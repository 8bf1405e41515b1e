package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** Library-level session defaults for gzip-blob raster workloads, and the
  * one session factory every graft entrypoint (Verify, Bench, Profile,
  * PlanDump, Sql, Cli, the check mains, the fixture writers) and the spec
  * suite build their session with — so correctness is gated under the
  * config that is benchmarked and documented in the README.
  *
  * Why the raster defaults exist (guide §6 input-split sizing, measured in
  * r13): gzip raster blobs understate the work a scan task does by their
  * decode fan-out (8× on the float32 19 GB bench set, ~100× on the
  * synthetic uint8 tiles), so every BYTE-based Spark sizing decision
  * misreads them:
  *
  *   - `spark.sql.files.openCostInBytes` = 64 MB: each SMALL gzip-raster
  *     file is charged ~its decoded weight, giving one scan task per
  *     file; big files are untouched — they still split at the default
  *     128 MB `maxPartitionBytes`. (Shrinking `maxPartitionBytes`
  *     instead was measured WORSE: a 4 MB split shredded pruned scans
  *     into thousands of mostly-empty tasks, 0.5 s → 10 s.)
  *   - `spark.sql.adaptive.coalescePartitions.minPartitionSize` =
  *     256 KB: AQE's 1 MB default packed a 2.5 MB shuffle of gzip label
  *     blobs into TWO post-shuffle tasks, serializing a 16M-pixel
  *     explode; 256 KB compressed ≈ 0.5–6 MB decoded keeps such stages
  *     parallel (64 KB was measured worse — it shredded small label-
  *     table loops into per-task overhead).
  *
  * Both size work per TASK, not tasks per core, so they are valid at
  * any core count / cluster size. */
object SessionDefaults {

  val openCostInBytes: String = "64m"

  val minPartitionSize: String = "256k"

  /** Apply the raster-aware defaults to a session builder. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.files.openCostInBytes", openCostInBytes)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      minPartitionSize)

  /** Core count of a local session: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The graft session: `master` (default `local[cpus]`), one shuffle
    * partition per core, UTC, UI off, the [[GraftExtensions]] (SQL
    * functions, pushdown rule, shape-stable codegen rule, raquet
    * metadata-row exclusion), the [[tuned]] raster defaults and WARN
    * logging. `withExtensions` rather than the static
    * `spark.sql.extensions` conf, so the extensions also reach a session
    * built on an already-running context. */
  def session(appName: String, master: Option[String] = None): SparkSession = {
    val s = tuned(SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
