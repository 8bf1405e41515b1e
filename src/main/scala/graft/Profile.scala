package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round profiling harness: run one bench query with a
  * stage-metrics listener so time attributes to operators (guide §1.1
  * empirical loop; the bench keeps the UI off, so this is the
  * measurement surface). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile b_focal_mean [reps]"
  *
  * Prints, per completed stage: wall ms, executor run/cpu time, GC,
  * shuffle read/write bytes, input bytes, task count — plus the plan. */
object Profile {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <bench query name> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionDefaults.session("graft-profile")
    Bench.ensureRaster(spark)
    val all = Bench.rasterQueries ++ Bench.dataQueries ++
      (if (name.startsWith("bL_")) { Bench.ensureLargeRaster(spark); Bench.largeQueries }
       else Map.empty)
    val fn = all.getOrElse(name, sys.error(s"unknown bench query: $name"))

    final case class St(id: Int, name: String, wallMs: Long, runMs: Long,
        cpuMs: Long, gcMs: Long, shReadMb: Double, shWriteMb: Double,
        inMb: Double, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages.add(St(i.stageId, i.name.takeWhile(_ != '\n').take(80),
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6, i.numTasks))
      }
    })

    // one untimed warm pass (bench protocol), then profiled reps
    val df = fn(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    println("=== plan ===")
    println(df.queryExecution.executedPlan.toString.take(8000))
    stages.clear()
    val t0 = System.nanoTime()
    (1 to reps).foreach { _ =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"=== $name: $reps reps, total $wall%.2f s (${wall / reps}%.2f s/rep) ===")
    println(f"${"stage"}%-6s${"tasks"}%6s${"wall_ms"}%9s${"run_ms"}%9s" +
      f"${"cpu_ms"}%9s${"gc_ms"}%7s${"shR_mb"}%8s${"shW_mb"}%8s${"in_mb"}%8s  name")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_.runMs).foreach { s =>
      println(f"${s.id}%-6d${s.tasks}%6d${s.wallMs}%9d${s.runMs}%9d" +
        f"${s.cpuMs}%9d${s.gcMs}%7d${s.shReadMb}%8.1f${s.shWriteMb}%8.1f" +
        f"${s.inMb}%8.1f  ${s.name}")
    }
    spark.stop()
  }
}
