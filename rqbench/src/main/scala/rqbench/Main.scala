package rqbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Bench.ContentionProbe
import graft.raquet.PixelCodec

/** Benchmark entry point, one JVM per phase:
  *
  *   prepare  write every variant's fixture that the fixture directory lacks
  *   measure  set up, run the workload's closed loop for `--seconds`, and
  *            print the result as the last standard-output line
  *
  * `--trace 1` interleaves traced rounds with untraced ones and reports the
  * per-layer readings and the tracing overhead instead of the end-to-end
  * metrics. `rqbench/run.py` builds the classpath and calls this. */
object Main {

  final case class Args(phase: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, fixtures: String, cores: Int)

  /** Session restarts at the end of a run; `setup_s` is their median. */
  val SetupRepeats = 3

  /** End-to-end metrics: the same names on every workload, each op slot
    * named by the workload's kinds. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op1_ms_p50" -> "ms",
    "op2_ms_p50" -> "ms", "op3_ms_p50" -> "ms", "rss_peak_mb" -> "MB")

  /** Per-layer metrics of the traced run, in report order, with units.
    * A layer the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "quadbin.cover_ms" -> "ms", "quadbin.cells_per_region" -> "count",
    "quadbin.ranges_per_region" -> "count",
    "raquetio.metadata_ms" -> "ms", "raquetio.metadata_jobs" -> "count",
    "raquetio.build_ms" -> "ms",
    "plan.ms" -> "ms", "plan.pushed_range_legs" -> "count",
    "scan.row_groups_total" -> "count", "scan.row_groups_matching" -> "count",
    "scan.rows_read" -> "count", "scan.input_mb" -> "MB",
    "scan.rows_read_per_tile_used" -> "ratio", "scan.kernel_efficiency" -> "ratio",
    "codec.inflate_tiles_per_s_1t" -> "1/s", "codec.deflate_tiles_per_s_1t" -> "1/s",
    "codec.inflated_mb" -> "MB",
    "kernel.stats_tiles_per_s_1t" -> "1/s", "kernel.clip_tiles_per_s_1t" -> "1/s",
    "kernel.floor_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_ms" -> "ms", "spark.executor_cpu_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "geotiff.convert_s" -> "s", "geotiff.read_warp_s" -> "s", "pyramid.s" -> "s",
    "write.s" -> "s", "write.tail_ms" -> "ms", "write.files" -> "count",
    "write.row_groups" -> "count", "write.output_mb" -> "MB",
    "write.stored_bytes_per_pixel_byte" -> "ratio", "maintenance.validate_s" -> "s",
    "geotiff.export_s" -> "s",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%",
    "env.foreign_cores" -> "cores", "env.steal_cores" -> "cores",
    "env.spin_ms" -> "ms", "env.gc_ms" -> "ms",
    "fixture.write_s" -> "s", "fixture.files" -> "count",
    "fixture.row_groups" -> "count", "fixture.mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("phase"), need("workload"), need("seed").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      need("work"), need("fixtures"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    a.phase match {
      case "prepare" =>
        var spark: Option[SparkSession] = None
        // all variants at once, so the first run of a series pays for
        // every fixture and later runs on any seed pay for none
        try (0 until Fixtures.Variants).foreach { v =>
          Workload(a.workload, a.fixtures, v).prepare { () =>
            if (spark.isEmpty) spark = Some(session(a))
            spark.get
          }
        } finally spark.foreach(_.stop())
      case "measure" => measure(a)
      case other => throw new IllegalArgumentException(s"unknown phase $other")
    }
  }

  def session(a: Args): SparkSession = {
    val s = graft.SessionDefaults.tuned(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("rqbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def measure(a: Args): Unit = {
    val w = Workload(a.workload, a.fixtures, a.seed)
    val rnd = new java.util.Random(a.seed * 31 + a.workload.hashCode)
    val runId = f"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}%x"

    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    /** An op outside the timed window, on inputs fixed by the seed and `salt`. */
    def untimed(spark: SparkSession, kind: Int, salt: Int): Unit = {
      attempted += 1
      val out = attempt(spark, w, kind, new java.util.Random(a.seed * 1009 + salt), new OpCtx(None, 0))
      if (!out.ok) failures += out.detail
    }
    /** Session start and the user-visible first read of the inputs. */
    def startSession(): SparkSession = {
      val s = session(a)
      w.touch(s)
      s
    }

    // cold start: JVM start to the session up and the table's metadata read
    // (recorded, not gated: it happens once per process, so a run has no
    // median of it)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = startSession()
    val coldStartS = (System.currentTimeMillis() - jvmStart) / 1e3
    val (_, openMs) = Util.timed(w.open(spark))
    // warm-up: every kind once, then a fixed number of whole rounds (not a
    // fixed time, so every run starts its timed window after the same work
    // whatever the host's load)
    val warmStart = Util.nowMs()
    for (kind <- w.kinds.indices) untimed(spark, kind, kind)
    val (warmOps, warmFailures) = warmUp(spark, w, a.seed)
    val warmupS = (Util.nowMs() - warmStart) / 1e3
    attempted += warmOps
    failures ++= warmFailures
    val jitWaitS = Util.awaitJitQuiet()
    val firstOpS = (System.currentTimeMillis() - jvmStart) / 1e3

    val trace = if (a.trace) Some(new Trace(runId, spark.sparkContext)) else None
    val lat = Array.fill(3)(ArrayBuffer.empty[Double])
    val latTraced = Array.fill(3)(ArrayBuffer.empty[Double])
    val layerOps = ArrayBuffer.empty[(Int, Outcome, Double, mutable.Map[String, Double])]
    val parts = mutable.Map.empty[String, ArrayBuffer[Double]]

    val env = new ContentionProbe
    Util.resetHeapPeak()
    val rssReset = Util.resetRssPeak()
    val loopStart = Util.nowMs()
    var round = 0
    // a traced run needs one untraced and one traced round at least
    while (Util.nowMs() - loopStart < a.seconds * 1000.0 || (a.trace && round < 2)) {
      val traced = trace.isDefined && round % 2 == 1
      for (kind <- w.round(rnd)) {
        attempted += 1
        val (ms, out, ctx) = runOp(spark, w, kind, rnd, if (traced) trace else None, a.cores)
        if (!out.ok) failures += out.detail
        (if (traced) latTraced else lat)(kind) += ms
        if (!traced) out.parts.foreach { case (k, v) => parts.getOrElseUpdate(k, ArrayBuffer.empty) += v }
        if (traced) layerOps += ((kind, out, ms, ctx.layer))
      }
      round += 1
    }
    val loopS = (Util.nowMs() - loopStart) / 1e3
    val envRec = Seq("env.foreign_cores" -> env.foreignCores(), "env.steal_cores" -> env.stealCores(),
      "env.spin_ms" -> env.spinAtStart, "env.gc_ms" -> env.gcDeltaMs().toDouble)
    // traced runs end with the write direction, checked like any op
    val probeLayers = trace.toSeq.flatMap { t =>
      val (out, layers) = WriteProbe.run(spark, w.tci, a.work, t)
      attempted += 1
      if (!out.ok) failures += out.detail
      layers
    }

    val p50 = lat.map(xs => if (xs.isEmpty) Double.NaN else Util.median(xs.toSeq))
    // the timed window's peak, before the restarts below
    val rss = Util.rssPeakMb()
    // set-up: session restart, first read of the inputs and the first op1
    // answer, in the warm JVM (traced runs report no end-to-end metrics and
    // skip them)
    val setups = (0 until (if (a.trace) 0 else SetupRepeats)).map { k =>
      spark.stop()
      val (s, ms) = Util.timed { val s = startSession(); untimed(s, 0, 100 + k); s }
      spark = s
      System.err.println(f"[rqbench] set-up ${k + 1}: ${ms / 1e3}%.2f s")
      ms / 1e3
    }
    val failed = failures.size
    val setupS = if (setups.isEmpty) Double.NaN else Util.median(setups)
    val named = namedMetrics(w, lat, parts.map { case (k, v) => k -> v.toSeq }.toMap,
      setupS, rss, attempted, failed)
    val record = Seq("run" -> runId, "workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace, "cores" -> a.cores, "seconds" -> a.seconds,
      "loop_s" -> loopS, "rounds" -> round, "kinds" -> w.kinds.mkString(","),
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(5).mkString(" "), "setups_s" -> setups,
      "cold_start_s" -> coldStartS, "first_op_s" -> firstOpS,
      "open_s" -> openMs / 1e3, "warmup_rounds" -> w.warmupRounds, "warmup_s" -> warmupS,
      "jit_wait_s" -> jitWaitS,
      "rss_peak_reset" -> rssReset,
      "op_samples" -> lat.map(_.size).toSeq,
      "op_ms" -> lat.map(_.map(x => math.rint(x * 10) / 10).toSeq).toSeq) ++ named ++ envRec ++ w.fixtureRecord

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        val values = Seq(setupS, p50(0), p50(1), p50(2), rss)
        EndToEnd.zip(values).map { case ((n, u), v) => (n, v, u) }
      case Some(t) =>
        val layers = layerReport(spark, w, layerOps.toSeq, lat, latTraced, a.cores) ++ probeLayers ++
          envRec ++ w.fixtureRecord.collect { case (k, v: Number) => k -> v.doubleValue }
        val byName = layers.toMap
        t.write(s"${a.work}/traces/$runId.spans.jsonl")
        t.close()
        printLayerTable(byName)
        PerLayer.map { case (n, u) => (n, byName.getOrElse(n, 0.0), u) }
    }
    spark.stop()

    val recLine = Util.json(record)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${a.work}/records"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/records/$runId.json"), recLine)
    println("rqbench-record " + recLine)
    val ok = failed == 0 && metrics.forall(m => !m._2.isNaN)
    println("RQBENCH_RESULT " + Util.json(Seq("correct" -> ok,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> (if (v.isNaN) null else v), "unit" -> u) }.toMap)))
  }

  /** The untimed warm-up: the workload's `warmupRounds` whole rounds, on
    * a random stream of their own (the timed ops never depend on it).
    * Spark's planner and the engine's per-query paths run a few times per
    * op, so the JIT compiles them only after many ops. Returns ops run and
    * failures. */
  private def warmUp(spark: SparkSession, w: Workload, seed: Long): (Int, Seq[String]) = {
    val rnd = new java.util.Random(seed * 17 + 3)
    val outs = Seq.fill(w.warmupRounds)(w.round(rnd)).flatten
      .map(kind => attempt(spark, w, kind, rnd, new OpCtx(None, 0)))
    (outs.size, outs.filterNot(_.ok).map(_.detail))
  }

  /** Run one op; a failure is an outcome, never an abort of the run. */
  private def attempt(spark: SparkSession, w: Workload, kind: Int, rnd: java.util.Random,
      ctx: OpCtx): Outcome =
    try w.run(spark, kind, rnd, ctx)
    catch { case scala.util.control.NonFatal(e) =>
      Outcome(ok = false, s"${w.kinds(kind)}: ${e.toString.take(300)}; ") }

  /** Run one timed op; traced ops also collect their jobs and out-of-band
    * probes. */
  private def runOp(spark: SparkSession, w: Workload, kind: Int, rnd: java.util.Random,
      trace: Option[Trace], cores: Int): (Double, Outcome, OpCtx) = {
    def attempt(ctx: OpCtx): Outcome = Main.attempt(spark, w, kind, rnd, ctx)
    trace match {
      case None =>
        val ctx = new OpCtx(None, 0)
        val (out, ms) = Util.timed(attempt(ctx))
        (ms, out, ctx)
      case Some(t) =>
        val gc0 = graft.Bench.gcMillis()
        var ctx: OpCtx = null
        val (out, span) = t.span(s"op ${w.kinds(kind)}", 0) { id =>
          ctx = new OpCtx(trace, id)
          attempt(ctx)
        }
        val wall = span.endMs - span.startMs
        val jobs = t.collectJobs(ctx.phaseIds.keySet.toSet + span.id)
        val stages = jobs.flatMap(_.stages.asScala)
        val L = ctx.layer
        L("jvm.gc_ms") += graft.Bench.gcMillis() - gc0
        L("spark.jobs") += jobs.size
        L("spark.stages") += stages.size
        L("spark.tasks") += stages.map(_.tasks).sum
        L("spark.driver_gap_ms") += wall - Trace.covered(
          jobs.map(j => (t.toLocal(j.startMs), t.toLocal(j.endMs))), span.startMs, span.endMs)
        val cpuS = stages.map(_.cpuNs).sum / 1e9
        L("spark.executor_cpu_s") += cpuS
        L("spark.cpu_util") += cpuS / (wall / 1e3 * cores)
        L("spark.gc_ms") += stages.map(_.gcMs).sum
        L("spark.shuffle_write_mb") += stages.map(_.shuffleWriteBytes).sum / 1e6
        L("spark.shuffle_read_mb") += stages.map(_.shuffleReadBytes).sum / 1e6
        L("spark.spill_mb") += stages.map(_.spillBytes).sum / 1e6
        val rows = stages.map(_.inputRecords).sum
        L("scan.rows_read") += rows
        if (out.tilesUsed > 0) L("scan.rows_read_per_tile_used") += rows.toDouble / out.tilesUsed
        // what the op's ranges let the reader touch, from the footers:
        // Spark's inputMetrics count almost none of the parquet bytes
        val hit = Util.matching(w.tableRowGroups, out.ranges)
        L("scan.row_groups_matching") += hit.size
        L("scan.input_mb") += hit.map(_.bytes).sum / 1e6
        L("raquetio.build_ms") += ctx.phaseMs("build")
        L("raquetio.metadata_jobs") += jobs.count(j => ctx.phaseIds.get(j.span).contains("build"))
        L("plan.ms") += ctx.phaseMs("plan")
        w.probe(spark, kind, out, ctx)
        (wall, out, ctx)
    }
  }

  /** Per-layer readings: per-op means over the traced ops, the
    * single-thread codec/kernel floors, and the tracing overhead. */
  private def layerReport(spark: SparkSession, w: Workload,
      ops: Seq[(Int, Outcome, Double, mutable.Map[String, Double])],
      lat: Array[ArrayBuffer[Double]], latTraced: Array[ArrayBuffer[Double]],
      cores: Int): Seq[(String, Double)] = {
    val keys = ops.flatMap(_._4.keys).distinct
    val perOp = keys.map { k =>
      val vs = ops.flatMap(_._4.get(k))
      k -> vs.sum / vs.size
    }
    val (blobs, kernel) = w.sample(spark)
    val micro = Micro.run(blobs, kernel)
    val tileMb = kernel.width.toLong * kernel.height * PixelCodec.bytesPerPixel(kernel.dtype) / 1e6
    def mean(f: ((Int, Outcome, Double, mutable.Map[String, Double])) => Double): Double =
      if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    val floorS = mean(o => o._2.tilesDecoded / micro("kernel.stats_tiles_per_s_1t") / cores)
    val eff = mean(o => o._2.tilesDecoded / micro("kernel.stats_tiles_per_s_1t") / cores / (o._3 / 1e3))
    val ratios = lat.indices.flatMap { k =>
      if (lat(k).isEmpty || latTraced(k).isEmpty) None
      else Some(Util.median(latTraced(k).toSeq) / Util.median(lat(k).toSeq))
    }
    val overhead =
      if (ratios.isEmpty) 0.0 else (math.exp(ratios.map(math.log).sum / ratios.size) - 1) * 100
    perOp ++ micro.toSeq ++ Seq(
      "codec.inflated_mb" -> mean(_._2.tilesDecoded * tileMb),
      "kernel.floor_s" -> floorS, "scan.kernel_efficiency" -> eff,
      "scan.row_groups_total" -> w.tableRowGroups.size.toDouble,
      "jvm.heap_peak_mb" -> Util.heapPeakMb(), "trace.overhead_pct" -> overhead)
  }

  private def printLayerTable(m: Map[String, Double]): Unit = {
    println("rqbench-layers")
    PerLayer.groupBy(_._1.takeWhile(_ != '.')).toSeq
      .sortBy { case (layer, _) => PerLayer.indexWhere(_._1.startsWith(layer + ".")) }
      .foreach { case (layer, ms) =>
        ms.foreach { case (n, u) =>
          println(f"rqbench-layer  $layer%-9s $n%-32s ${m.getOrElse(n, 0.0)}%14.4f $u")
        }
      }
  }

  /** Each workload's own metric names (`point_ms_p50`, `scan_tiles_per_s`,
    * ...), for the run record. */
  private def namedMetrics(w: Workload, lat: Array[ArrayBuffer[Double]],
      parts: Map[String, Seq[Double]], setupS: Double,
      rss: Double, attempted: Int, failed: Int): Seq[(String, Any)] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Util.median(xs)
    def p50(k: Int) = med(lat(k).toSeq)
    def tail(name: String, xs: Seq[Double]): Seq[(String, Any)] =
      Util.tailPercentile(xs).map { case (p, v) => s"${name}_ms_p$p" -> v }.toSeq
    val common = Seq("setup_s" -> setupS, "rss_peak_mb" -> rss,
      "error_rate" -> failed.toDouble / math.max(1, attempted))
    common ++ (w match {
      case _: Interactive =>
        val small = parts.getOrElse("region_small", Nil)
        val large = parts.getOrElse("region_large", Nil)
        val regions = small ++ large
        Seq("point_ms_p50" -> p50(0)) ++ tail("point", lat(0).toSeq) ++
          Seq("region_ms_p50" -> med(regions),
            "region16_ms_p50" -> med(small), "region506_ms_p50" -> med(large)) ++
          tail("region", regions) ++ Seq("colstats_ms_p50" -> p50(2))
      case s: Scan =>
        val passes = (lat(0) ++ lat(1)).toSeq
        Seq("scan_tiles_per_s" -> med(passes.map(ms => s.fx.nativeTiles / (ms / 1e3))),
          "topk_s_p50" -> p50(2) / 1e3)
    })
  }
}

/** Single-thread codec and kernel floors over a fixed sample of the
  * workload's own blobs, each timed for at least 250 ms. */
object Micro {
  def run(blobs: Seq[(Long, Array[Byte])], k: graft.raquet.BandKernel): Map[String, Double] = {
    require(blobs.nonEmpty, "no sample blobs")
    val decoded = blobs.map(b => k.decode(b._2))
    // a triangle over each tile's lower-left half: the per-pixel clip path
    val geoms = blobs.map { case (block, _) =>
      val b = graft.quadbin.Quadbin.cellBounds(block) // w, s, e, n
      graft.geo.Wkt.parse(s"POLYGON((${b(0)} ${b(1)}, ${b(2)} ${b(1)}, ${b(0)} ${b(3)}, ${b(0)} ${b(1)}))")
    }
    def rate(f: Int => Any): Double = {
      var n = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 250000000L || n < blobs.size) { f(n % blobs.size); n += 1 }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    Map(
      "codec.inflate_tiles_per_s_1t" -> rate(i => PixelCodec.gzipDecompress(blobs(i)._2)),
      "codec.deflate_tiles_per_s_1t" -> rate(i => PixelCodec.encode(decoded(i), k.dtype, gzip = true)),
      "kernel.stats_tiles_per_s_1t" -> rate(i => k.stats(blobs(i)._2)),
      "kernel.clip_tiles_per_s_1t" -> rate(i => k.clipStats(blobs(i)._2, blobs(i)._1, geoms(i))))
  }
}
