package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` output for named bench queries to
  * plans/<tag>/<name>_<suffix>.txt — the optimization round's plan
  * evidence (before/after files the judge checks claims against).
  *
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.PlanDump r13 before b_covariance ...'
  *
  * Query names resolve in the bench registry; `all` dumps every bench
  * query. Plans only — nothing is executed, so it is safe to run next
  * to other work. */
object PlanDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query|all>...")
    val tag = args(0); val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionDefaults.session("graft-plandump")
    Bench.ensureRaster(spark)
    val withLarge = names.exists(_.startsWith("bL_")) || names.contains("all")
    if (withLarge) Bench.ensureLargeRaster(spark)
    // bench registry first; declared SparkEntry queries (qNNN_*) as a
    // fallback so non-bench optimization targets (e.g. q232's fused
    // sieve flags) can leave plan evidence too
    val all = Bench.rasterQueries ++ Bench.dataQueries ++
      (if (withLarge) Bench.largeQueries else Map.empty)
    val picked =
      if (names.contains("all")) all.toSeq.sortBy(_._1)
      else names.map(n => n -> all.getOrElse(n,
        SparkEntry.queries.getOrElse(n, sys.error(s"unknown query: $n"))))
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    picked.foreach { case (name, fn) =>
      // iterative pipelines execute their loop bodies during query
      // construction; the PlanHook sink captures each round's EXECUTED
      // (AQE-final) plan, which the final-stage explain below can't show
      val seen = scala.collection.mutable.Map.empty[String, Int]
      PlanHook.sink = (label, ldf) => {
        val k = seen.getOrElse(label, 0); seen(label) = k + 1
        val occ = if (k == 0) label else s"${label}_$k"
        val f = dir.resolve(s"${name}_${occ}_$suffix.txt")
        Files.writeString(f, ldf.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        System.err.println(s"[plandump] wrote $f")
      }
      val df = try fn(spark, sfDir) finally PlanHook.sink = null
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote ${dir.resolve(s"${name}_$suffix.txt")}")
    }
    spark.stop()
  }
}
