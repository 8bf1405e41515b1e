package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs Spark starts while `body` runs. Listener events arrive in order,
    * so a marker job after `body` flushes every earlier one to the count. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "jobsDuring marker"))
          flushed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setJobDescription("jobsDuring marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // the library's standard session config — format("raquet") fails fast
  // without it (metadata-row exclusion lives in an analyzer rule)
  lazy val session: SparkSession = SessionDefaults.session("graft-test")
}
