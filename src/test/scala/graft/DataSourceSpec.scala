package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `format("raquet")` data source: registration, metadata-row exclusion,
  * pushdown, SQL-path, and the read-only guard. */
class DataSourceSpec extends AnyFunSuite {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"

  /** A session with the library's standard config (GraftExtensions), built
    * on the shared SparkContext. */
  private lazy val gspark: SparkSession = {
    SparkSpec.session // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SessionDefaults.session("graft-datasource-test")
  }

  test("format(raquet) resolves via DataSourceRegister and excludes the metadata row") {
    val df = gspark.read.format("raquet").load(fixture)
    assert(df.count() == 85) // 86 physical rows; block=0 excluded
    assert(df.filter(col("block") === 0L).count() == 0)
    // plain parquet keeps it — the exclusion is the source's semantic
    assert(gspark.read.parquet(fixture).count() == 86)
  }

  test("the exclusion filter reaches the parquet scan as a pushed filter") {
    val df = gspark.read.format("raquet").load(fixture)
      .filter(col("band_1_count") > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(block,0)"),
      s"metadata exclusion not pushed:\n${plan.take(1500)}")
  }

  test("SQL surface: SELECT over raquet.`path` and USING raquet") {
    val n = gspark.sql(s"SELECT count(*) AS n FROM raquet.`$fixture`")
      .collect()(0).getLong(0)
    assert(n == 85)
    gspark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW rq_ds USING raquet OPTIONS (path '$fixture')")
    assert(gspark.sql("SELECT count(*) FROM rq_ds").collect()(0).getLong(0) == 85)
  }

  test("writes through the raquet source fail loudly (read-only)") {
    val out = java.nio.file.Files.createTempDirectory("dsrw").toString + "/out"
    val e = intercept[Exception] {
      gspark.read.format("raquet").load(fixture)
        .write.format("raquet").save(out)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("RaquetIO.write")),
      s"unexpected error: $e")
  }

  test("format(raquet) without the extensions fails fast instead of leaking the metadata row") {
    SparkSpec.session // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val bare = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val e = intercept[IllegalStateException] {
        bare.read.format("raquet").load(fixture).count()
      }
      assert(e.getMessage.contains("GraftExtensions"), s"unexpected: $e")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("non-raquet parquet (no block column) reads unfiltered through the source") {
    val df = gspark.read.format("raquet").load("/root/testdata/sf0.001/nation.parquet")
    assert(df.count() == gspark.read.parquet("/root/testdata/sf0.001/nation.parquet").count())
  }
}
