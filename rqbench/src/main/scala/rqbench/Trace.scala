package rqbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans of the traced run. An op span has child phase spans (`build`,
  * `plan`, `execute`, ...); Spark jobs and stages become children of the
  * phase that was active when they were submitted, through a local
  * property the tracer sets on the submitting thread. Everything is kept in
  * memory and written out when the run ends. Times are ms on one clock. */
final class Trace(val runId: String, sc: SparkContext) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val listener = new JobListener
  sc.addSparkListener(listener)
  /** Epoch ms at nanoTime 0, so listener event times land on our clock. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def newSpan(name: String, parent: Long, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty, site: String = ""): Span = {
    val s = Span(nextId, parent, name, startMs, endMs, attrs, site)
    nextId += 1
    spans += s
    s
  }

  /** Run `body` as span `name` under `parent`; Spark jobs it submits are
    * tagged with the new span's id. */
  def span[T](name: String, parent: Long)(body: Long => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = Util.nowMs()
    try {
      val r = body(id)
      val s = Span(id, parent, name, t0, Util.nowMs(), Map.empty, "")
      spans += s
      (r, s)
    } finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Wait for the listener to see every event posted so far, then turn the
    * jobs and stages of spans `ids` into child spans; returns the jobs. */
  def collectJobs(ids: Set[Long]): Seq[JobRec] = {
    org.apache.spark.rqbench.ListenerSync.drain(sc)
    val jobs = listener.jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.id)
    jobs.foreach { j =>
      listener.jobs.remove(j.id)
      val js = newSpan(s"job ${j.id}", j.span, toLocal(j.startMs), toLocal(j.endMs),
        site = j.site)
      j.stages.asScala.foreach { st =>
        newSpan(s"stage ${st.id}", js.id, toLocal(st.submitMs), toLocal(st.endMs),
          Map("tasks" -> st.tasks.toDouble, "cpu_s" -> st.cpuNs / 1e9,
            "gc_ms" -> st.gcMs.toDouble, "rows_read" -> st.inputRecords.toDouble))
      }
    }
    jobs
  }

  def toLocal(epochMs: Double): Double = epochMs - epochOffsetMs

  /** Span file: one JSON object per line, with self time = span wall minus
    * the time its children cover. */
  def write(path: String): Unit = {
    val byParent = spans.groupBy(_.parent)
    val lines = spans.sortBy(s => (s.startMs, s.id)).map { s =>
      val kids = byParent.getOrElse(s.id, Seq.empty).map(k => (k.startMs, k.endMs)).toSeq
      val self = (s.endMs - s.startMs) - covered(kids, s.startMs, s.endMs)
      Util.json(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_ms" -> (s.endMs - s.startMs), "self_ms" -> self) ++
        (if (s.site.isEmpty) Nil else Seq("site" -> s.site)) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Trace {
  val SpanKey = "rqbench.span"

  /** `site` names the engine call that submitted a job span. */
  final case class Span(id: Long, parent: Long, name: String, startMs: Double,
      endMs: Double, attrs: Map[String, Double], site: String)

  final case class StageRec(id: Int, submitMs: Double, endMs: Double, tasks: Int,
      cpuNs: Long, gcMs: Long, inputRecords: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  final class JobRec(val id: Int, val span: Long, val startMs: Double, val callSite: String) {
    @volatile var endMs: Double = startMs
    /** The innermost engine frame of the submitting call stack. */
    def site: String = callSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.functions"))
      .getOrElse(callSite.linesIterator.nextOption().getOrElse("").trim)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  }

  /** Time within [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  private final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    /** Call stacks of SQL executions: their jobs may be submitted from
      * Spark's own threads, whose stack names no engine frame. */
    private val sqlSites = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId, s.details)
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        sqlSites.remove(s.executionId)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(sqlSites.get(id.toLong)))
          .getOrElse(e.stageInfos.map(_.details).mkString("\n"))
        val j = new JobRec(e.jobId, s.toLong, e.time.toDouble, site)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.remove(i.stageId)).foreach { j =>
        val m = i.taskMetrics
        j.stages.add(StageRec(i.stageId,
          i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
          i.numTasks, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }
}
