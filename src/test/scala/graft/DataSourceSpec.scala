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
      val sql = intercept[IllegalStateException] {
        bare.sql(s"SELECT count(*) FROM raquet.`$fixture`").collect()
      }
      assert(sql.getMessage.contains("GraftExtensions"), s"unexpected: $sql")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("non-raquet parquet (no block column) reads unfiltered through the source") {
    val plain = java.nio.file.Files.createTempDirectory("dsplain").toString + "/t"
    gspark.range(25).selectExpr("id", "id % 5 AS k").write.parquet(plain)
    val df = gspark.read.format("raquet").load(plain)
    assert(df.count() == gspark.read.parquet(plain).count())
  }

  test("every entry point plans one parquet scan with the exclusion pushed") {
    gspark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW rq_scan USING raquet OPTIONS (path '$fixture')")
    val entries = Seq(
      "format(raquet)" -> gspark.read.format("raquet").load(fixture),
      "SQL on a path" -> gspark.sql(s"SELECT * FROM raquet.`$fixture`"),
      "USING raquet" -> gspark.sql("SELECT * FROM rq_scan"))
    entries.foreach { case (name, df) =>
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1, s"$name:\n${df.queryExecution.executedPlan}")
      assert(scans.head.metadata("PushedFilters").contains("Not(EqualTo(block,0))"),
        s"$name: ${scans.head.metadata("PushedFilters")}")
    }
    val s = gspark.read.parquet(fixture).schema
    val typed = gspark.read.format("raquet").schema(s).load(fixture)
    assert(typed.schema == s)
    assert(typed.count() == 85)
  }
}
