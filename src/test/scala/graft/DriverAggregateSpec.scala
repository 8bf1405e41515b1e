package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DriverAggregate, LocalParquetRows, LocalReads,
  QuadbinRangeRewrite}

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.geo.Wkt
import graft.quadbin.{Polyfill, Quadbin}
import graft.raquet.{FixtureGen, RaquetIO}

/** [[DriverAggregate]]: small aggregates over raquet tables and local
  * relations fold into local relations and run no Spark job; their rows
  * equal those of a session without the rule; the driver-side read admits
  * exactly the row groups and records of the scan; and aggregates above the
  * bound, or over a partitioned table, keep their distributed plan. */
class DriverAggregateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // gradient16: zoom 6, tiles x 32..39, y 24..31
  private val gradient = "src/test/resources/raquet/gradient16.parquet"
  private val temporal = "src/test/resources/raquet/gradient16_time.parquet"

  /** A session with the graft functions and the range pushdown rewrite but
    * not [[DriverAggregate]]. Built after the suite's session, which stays
    * the default one. */
  private lazy val plain: SparkSession = {
    val graft = spark
    val s = SparkSession.builder()
      .withExtensions(_.injectOptimizerRule(_ => QuadbinRangeRewrite)).create()
    GraftFunctions.register(s)
    SparkSession.setDefaultSession(graft)
    SparkSession.setActiveSession(graft)
    s
  }

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("rq-agg").toString

  /** gradient16 rewritten by the directory writer into 16-row files. */
  private lazy val written: String = {
    val dir = tmpDir() + "/written"
    val src = RaquetIO.read(spark, gradient)
    RaquetIO.write(src.data, src.meta, dir, maxRecordsPerFile = 16)
    dir
  }

  /** gradient16 sorted by `block` into 3 files of 4-row row groups. */
  private lazy val grouped: String = {
    val dir = tmpDir() + "/grouped"
    spark.read.parquet(gradient).repartitionByRange(3, col("block"))
      .sortWithinPartitions("block")
      .write.option("parquet.block.row.count.limit", "4").parquet(dir)
    dir
  }

  /** gradient16 in 3 files written without column statistics. */
  private lazy val noStats: String = {
    val dir = tmpDir() + "/nostats"
    spark.read.parquet(gradient).repartition(3).write
      .option("parquet.column.statistics.enabled", "false").parquet(dir)
    dir
  }

  private def rect(x0: Long, y0: Long, x1: Long, y1: Long, z: Int): String = {
    val (w, e) = (Quadbin.tileWest(x0, z) + 1e-3, Quadbin.tileEast(x1, z) - 1e-3)
    val (s, n) = (Quadbin.tileSouth(y1, z) + 1e-3, Quadbin.tileNorth(y0, z) - 1e-3)
    s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"
  }

  /** The benchmark's colstats pair: tiles per zoom and a stats-column
    * aggregate. */
  private def colstats(s: SparkSession, path: String): Seq[DataFrame] = {
    val ds = RaquetIO.read(s, path)
    Seq(ds.data.groupBy(quadbin_zoom(col("block")).as("z")).agg(count(lit(1)).as("n")),
      ds.data.agg(sum("band_1_count"), sum("band_1_sum"), min("band_1_min"), max("band_1_max")))
  }

  /** A 4×4-tile region statistic at the table's zoom 6. */
  private def region(s: SparkSession, path: String, x0: Long = 33, y0: Long = 25,
      side: Int = 4, z: Int = 6): DataFrame =
    RaquetIO.regionStatsTiles(s, path, rect(x0, y0, x0 + side - 1, y0 + side - 1, z), "band_1")
      .agg(rq_stats_merge(col("s")).as("m")).select("m.count", "m.min", "m.max", "m.sum")

  /** Aggregates over the table at `path`: count, sum, min, max and avg,
    * grouped and global, a sorted `collect_list` (imperative), and empty
    * inputs grouped and global. Every sum is over integers, so it is exact
    * in any order and the results compare bit for bit. */
  private def aggregates(s: SparkSession, path: String): Seq[(String, DataFrame)] = {
    val data = RaquetIO.read(s, path).data
    // the temporal table has no stats columns: its time columns stand in
    val (n, v, lo, hi) =
      if (data.columns.contains("band_1_count")) ("band_1_count", "band_1_sum", "band_1_min", "band_1_max")
      else ("time_cf", "time_cf", "time_ts", "time_ts")
    val fns = Seq(count(lit(1)), count(col(n)), sum(v), min(lo), max(hi), avg(n), sum(n))
    val zoom = quadbin_zoom(col("block")).as("z")
    val none = data.filter(col("block") === -1L)
    Seq(
      "grouped" -> data.groupBy(zoom).agg(fns.head, fns.tail: _*),
      "global" -> data.agg(fns.head, fns.tail: _*),
      "collect_list" -> data.groupBy(zoom).agg(sort_array(collect_list(col("block"))).as("l")),
      "filtered" -> data.filter(col(hi) =!= data.select(min(hi)).head().get(0))
        .groupBy(quadbin_tile_x(col("block"))).agg(min(lo), count(lit(1))),
      "empty grouped" -> none.groupBy(zoom).agg(fns.head, fns.tail: _*),
      "empty global" -> none.agg(fns.head, fns.tail: _*))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def folded(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    collect(plan) { case s: LocalTableScanExec => s }.nonEmpty &&
      collect(plan) { case s: FileSourceScanExec => s }.isEmpty &&
      collect(plan) { case a: BaseAggregateExec => a }.isEmpty
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  private def pushed(df: DataFrame): Seq[String] =
    scans(df).map(_.metadata.getOrElse("PushedFilters", ""))

  test("colstats and a 4×4 region statistic run no Spark job") {
    assert(new java.io.File(written).list().count(_.endsWith(".parquet")) > 2)
    for (path <- Seq(gradient, written)) {
      val queries = colstats(spark, path) :+ region(spark, path)
      val want = (colstats(plain, path) :+ region(plain, path)).map(sorted)
      queries.zip(want).zipWithIndex.foreach { case ((q, w), i) =>
        val (got, jobs) = jobsDuring(sorted(q))
        assert(jobs == 0, s"$path query $i ran $jobs jobs")
        assert(folded(q), s"$path query $i:\n${q.queryExecution.executedPlan}")
        assert(got.nonEmpty && got == w, s"$path query $i")
      }
      // building and collecting in one go: the open runs no job either
      assert(jobsDuring(colstats(spark, path).map(_.collect()))._2 == 0, path)
    }
  }

  test("folded aggregates equal a session without the rule") {
    for (path <- Seq(gradient, written, noStats, temporal)) {
      aggregates(spark, path).zip(aggregates(plain, path)).foreach { case ((name, q), (_, w)) =>
        assert(folded(q), s"$path $name:\n${q.queryExecution.executedPlan}")
        assert(!folded(w), s"$path $name")
        assert(sorted(q) == sorted(w), s"$path $name")
      }
    }
    // the temporal table groups by time as well
    val byTime = (s: SparkSession) => RaquetIO.read(s, temporal).data.groupBy(col("time_cf"))
      .agg(count(lit(1)), min("block"), max("time_ts"))
    assert(folded(byTime(spark)) && sorted(byTime(spark)) == sorted(byTime(plain)))
    // empty inputs: no group, and the one row of a global aggregate
    val empty = aggregates(spark, gradient).toMap
    assert(empty("empty grouped").collect().isEmpty)
    val global = empty("empty global").collect()
    assert(global.length == 1 && global.head.getLong(0) == 0L && global.head.isNullAt(2))
    // the region statistic, merged on the driver (rq_stats_merge)
    for (path <- Seq(gradient, written, noStats)) {
      val q = region(spark, path)
      assert(folded(q) && sorted(q) == sorted(region(plain, path)), path)
    }
  }

  test("aggregates over a local relation fold, a point read's included") {
    import spark.implicits._
    val local = (s: SparkSession) => {
      import s.implicits._
      Seq((1, 2.5, "a"), (2, -0.0, "b"), (1, 0.0, "a"), (3, Double.NaN, "c")).toDF("k", "v", "s")
    }
    val queries: Seq[SparkSession => DataFrame] = Seq(
      s => local(s).groupBy("k").agg(sum("v"), max("s"), count(lit(1))),
      s => local(s).groupBy("v").agg(count(lit(1))),
      s => local(s).filter($"k" > 5).agg(sum("v"), count(lit(1))),
      s => local(s).agg(sort_array(collect_list("s")), avg("k")))
    queries.foreach { q =>
      val (got, jobs) = jobsDuring(sorted(q(spark)))
      assert(jobs == 0 && folded(q(spark)))
      assert(got == sorted(q(plain)))
    }
    val cell = Quadbin.tileToCell(35, 27, 6)
    val b = Quadbin.cellBounds(cell)
    val point = RaquetIO.readAt(spark, gradient, (b(0) + b(2)) / 2, (b(1) + b(3)) / 2).data
    val (rows, jobs) = jobsDuring(point.agg(count(lit(1)), max("block")).collect())
    assert(jobs == 0 && rows.toSeq == Seq(Row(1L, cell)))
  }

  /** Each row group's `block` (min, max) per file, read apart from the rule. */
  private def blockRanges(dir: String): Seq[Seq[(Long, Long)]] = {
    val conf = spark.sessionState.newHadoopConf()
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f), conf))
        try reader.getFooter.getBlocks.asScala.toSeq.map { g =>
          val s = g.getColumns.asScala.find(_.getPath.toDotString == "block").get.getStatistics
            .asInstanceOf[LongStatistics]
          (s.getMin, s.getMax)
        } finally reader.close()
      }
  }

  test("the driver-side read admits the scan's row groups and records") {
    val ranges = blockRanges(grouped)
    assert(ranges.length == 3 && ranges.forall(_.length > 1), ranges)
    val blocks = spark.read.parquet(grouped).select("block").collect().map(_.getLong(0)).sorted
    // ranges that start and end inside row groups, within one file or across two
    for ((i, j) <- Seq((5, 6), (6, 13), (2, 30), (20, 45))) {
      val (lo, hi) = (blocks(i), blocks(j))
      val q = (s: SparkSession) => RaquetIO.read(s, grouped).data
        .filter(col("block").between(lo, hi)).agg(count(lit(1)), sum("band_1_sum"))
      val admitted = ranges.flatten.count { case (mn, mx) => mn <= hi && mx >= lo }
      val matching = blocks.count(b => b != 0L && lo <= b && b <= hi)
      val (groups, records) = (LocalReads.rowGroups, LocalReads.records)
      val got = sorted(q(spark))
      assert(LocalReads.rowGroups - groups == admitted, s"row groups of [$i, $j]")
      assert(LocalReads.records - records == matching, s"records of [$i, $j]")
      assert(got.head.getLong(0) == matching && got == sorted(q(plain)), s"[$i, $j]")
    }
  }

  test("records read on the driver stay intact across pages and row groups") {
    // plain-encoded strings and blobs over many pages and row groups, so
    // the converter's values are views on page buffers
    val dir = tmpDir() + "/pages"
    spark.range(0, 3000, 1, 1).select(col("id"), concat(lit("value-"), col("id").cast("string"))
      .as("s"), sha2(col("id").cast("string"), 256).cast("binary").as("b")).write
      .option("parquet.enable.dictionary", "false").option("parquet.page.size", "4096")
      .option("parquet.block.row.count.limit", "700").parquet(dir)
    val file = new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val status = new HPath(file).getFileSystem(conf).getFileStatus(new HPath(file))
    val reader = RaquetIO.openFile(conf, status)
    assert(reader.getRowGroups.size > 2)
    val want = spark.read.parquet(file)
    val got = LocalParquetRows(spark, conf, want.schema, Iterator((reader, FilterCompat.NOOP)))
    def values(df: DataFrame) = df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })
    assert(values(got).length == 3000 && values(got) == values(want))
  }

  /** A slope table of `side`×`side` 16-pixel tiles at zoom 10. */
  private def slope(side: Int): String = {
    val dir = tmpDir() + "/slope"
    val (z, x0, y0) = (10, 512L, 384L)
    RaquetIO.write(FixtureGen.slopeTiles(spark, z, x0, y0, side, side, 16),
      FixtureGen.slopeMetadata(z, x0, y0, side, side, 16, minZoom = z), dir,
      maxRecordsPerFile = side * side / 4)
    dir
  }

  private def estimate(df: DataFrame): DriverAggregate.Estimate =
    df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }
      .flatMap(DriverAggregate.estimate).get

  test("aggregates above the bound keep their scan and its pushed filters") {
    // twice the tiles the rule's threads decode within the bound
    val threads = DriverAggregate.threads(spark)
    val parallelism = DriverAggregate.Estimate(0L, 0L, 0L, threads).parallelism
    val side = math.ceil(math.sqrt(
      2 * DriverAggregate.DistributedMs * parallelism / DriverAggregate.DecodeMsPerTile)).toInt
    val dir = slope(side)
    val queryB = (s: SparkSession) => {
      val ds = RaquetIO.read(s, dir)
      ds.data.select(rq_summary_stats(col("band_1"), ds.meta, "band_1").getField("mean").as("m"))
        .agg(count(lit(1)).as("total"), sum(when(col("m") < 30.0, 1L).otherwise(0L)).as("hit"))
    }
    val (withRule, without) = (queryB(spark), queryB(plain))
    assert(scans(withRule).length == 1, withRule.queryExecution.executedPlan)
    assert(pushed(withRule) == pushed(without))
    assert(sorted(withRule) == sorted(without))
    // it stops reading footers once past the bound
    val e = estimate(queryB(plain))
    assert(!e.small && e.tiles <= side * side && e.files < slopeFiles(dir), e)
    // a region decodes only its boundary tiles: 12 of a 4×4 square's 16,
    // aligned to one pushed range or not; a stats-column aggregate none
    for ((x, y) <- Seq((512L, 384L), (514L, 386L)))
      assert(estimate(region(plain, dir, x, y, 4, 10)).tiles == 12, (x, y))
    assert(estimate(colstats(plain, dir).last).tiles == 0)
  }

  test("a mid-size region folds, costed by its boundary tiles") {
    val dir = slope(16)
    assert(slopeFiles(dir) > 2)
    // 12×12 tiles: 100 inside the polygon take the stats columns, 44 decode
    val (x, y, side) = (513L, 385L, 12)
    val q = (s: SparkSession) => region(s, dir, x, y, side, 10)
    val want = sorted(q(plain))
    val (got, jobs) = jobsDuring(sorted(q(spark)))
    assert(jobs == 0 && folded(q(spark)), q(spark).queryExecution.executedPlan)
    assert(got.nonEmpty && got == want)
    val boundary = Polyfill.splitCover(Wkt.parse(rect(x, y, x + side - 1, y + side - 1, 10)), 10)._2
    assert(boundary.length == 4 * side - 4)
    val e = estimate(q(plain))
    assert(e.tiles == boundary.length && e.small, e)
    assert(e.threads <= math.min(DriverAggregate.threads(spark), slopeFiles(dir)), e)
    // the whole table, as one region, folds too
    assert(folded(region(spark, dir, 512, 384, 16, 10)))
    assert(sorted(region(spark, dir, 512, 384, 16, 10)) == sorted(region(plain, dir, 512, 384, 16, 10)))
  }

  test("repeated folds of a double average are bit-identical, summed in path order") {
    val q = (s: SparkSession) => RaquetIO.read(s, written).data.agg(avg("band_1_mean"))
    assert(folded(q(spark)))
    val runs = Seq.fill(5)(q(spark).collect().head.getDouble(0))
    assert(runs.map(java.lang.Double.doubleToRawLongBits).distinct.length == 1, runs)
    // a sequential fold's value: each file's rows in record order, the
    // files in path order
    val files = new java.io.File(written).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(files.length > 2)
    val means = files.flatMap(f => spark.read.parquet(f).select("band_1_mean").collect()
      .filterNot(_.isNullAt(0)).map(_.getDouble(0)))
    val sum = means.foldLeft(0.0)(_ + _)
    assert(java.lang.Double.doubleToRawLongBits(runs.head) ==
      java.lang.Double.doubleToRawLongBits(sum / means.length), (runs.head, sum / means.length))
  }

  test("a kernel error in one part is raised as thrown, and every reader is closed") {
    // gradient16 in 16-row files, one tile's gzip blob corrupted past its
    // header
    val dir = tmpDir() + "/corrupt"
    val src = RaquetIO.read(spark, gradient)
    val tile = src.data.filter(col("block") =!= 0L).orderBy(col("block"))
      .select("block", "band_1").collect()(40)
    val (bad, broken) = (tile.getLong(0), tile.getAs[Array[Byte]](1).clone())
    for (i <- 16 until broken.length - 8) broken(i) = (broken(i) ^ 0x5a).toByte
    RaquetIO.write(src.data.withColumn("band_1",
      when(col("block") === bad, lit(broken)).otherwise(col("band_1"))), src.meta, dir,
      maxRecordsPerFile = 16)
    assert(slopeFiles(dir) > 2)
    def stats(data: DataFrame, meta: graft.raquet.RaquetMetadata) =
      data.select(rq_summary_stats(col("band_1"), meta, "band_1").getField("mean").as("m"))
        .agg(sum(col("m")))
    val table = RaquetIO.read(spark, dir)
    val q = stats(table.data, table.meta)
    // the sequential fold: the bad tile alone, as a local relation
    val alone = RaquetIO.read(spark, dir).data.filter(col("block") === bad).collect()
    val local = spark.createDataFrame(alone.toSeq.asJava, table.data.schema)
    val want = intercept[Throwable](stats(local, table.meta).collect())
    val got = intercept[Throwable](q.collect())
    assert(!got.isInstanceOf[java.util.concurrent.ExecutionException], got)
    assert(!got.isInstanceOf[org.apache.spark.SparkException], got)
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage, (got, want))
    // the plain session fails the same tile in a job
    assert(intercept[org.apache.spark.SparkException](
      stats(RaquetIO.read(plain, dir).data, table.meta).collect()) != null)
    // no file of the table is left open
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val root = new java.io.File(dir).getCanonicalPath
    val open = Option(fds.listFiles()).toSeq.flatten.flatMap { f =>
      scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath).toString).toOption
    }.filter(_.startsWith(root + "/"))
    assert(open.isEmpty, open)
    // the parts ran on named daemon threads
    val pool = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("driver-aggregate"))
    assert(pool.nonEmpty && pool.forall(_.isDaemon), pool)
  }

  private def slopeFiles(dir: String): Int =
    new java.io.File(dir).list().count(_.endsWith(".parquet"))

  test("a table of more files than the bound keeps its scan and stops reading footers") {
    val bound = math.ceil(DriverAggregate.DistributedMs / DriverAggregate.OpenMsPerFile).toInt
    val side = math.ceil(math.sqrt(bound + 100.0)).toInt
    val dir = tmpDir() + "/files"
    RaquetIO.write(FixtureGen.slopeTiles(spark, 10, 512L, 384L, side, side, 16).coalesce(1),
      FixtureGen.slopeMetadata(10, 512L, 384L, side, side, 16, minZoom = 10), dir,
      maxRecordsPerFile = 1)
    val files = slopeFiles(dir)
    assert(files > bound + 100, files)
    val q = (s: SparkSession) => colstats(s, dir).last
    val df = q(spark)
    df.queryExecution.analyzed
    // the open read one footer; planning reads until the estimate is past the bound
    val reads = RaquetIO.footerReads.get
    val plan = df.queryExecution.executedPlan
    val planned = RaquetIO.footerReads.get - reads
    assert(planned <= bound + 1, s"$planned footers read of $files")
    assert(scans(df).length == 1, plan)
    assert(pushed(df) == pushed(q(plain)))
    assert(sorted(df) == sorted(q(plain)))
    val e = df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }
      .flatMap(DriverAggregate.estimate).get
    assert(!e.small && e.files <= bound + 1, e)
  }

  test("a collated grouping key keeps its plan") {
    val sql = "SELECT collate(s, 'UTF8_LCASE') AS k, count(*) AS n " +
      "FROM VALUES ('A'), ('a'), ('b') t(s) GROUP BY 1"
    val (got, want) = (spark.sql(sql), plain.sql(sql))
    assert(!folded(got), got.queryExecution.executedPlan)
    // 'A' and 'a' are one group under the collation
    def groups(df: DataFrame) =
      df.collect().map(r => (r.getString(0).toLowerCase, r.getLong(1))).toSeq.sorted
    assert(groups(got) == Seq(("a", 2L), ("b", 1L)) && groups(got) == groups(want))
    // the same grouping by the binary collation folds
    val binary = sql.replace("'UTF8_LCASE'", "'UTF8_BINARY'")
    assert(folded(spark.sql(binary)) && sorted(spark.sql(binary)) == sorted(plain.sql(binary)))
  }

  test("a partitioned table keeps its scan") {
    val dir = tmpDir() + "/parted"
    spark.read.parquet(gradient).withColumn("p", lit(1)).write.partitionBy("p").parquet(dir)
    val q = RaquetIO.read(spark, dir).data.groupBy(col("p")).agg(count(lit(1)))
    assert(scans(q).length == 1, q.queryExecution.executedPlan)
    assert(q.collect().toSeq == Seq(Row(1, RaquetIO.read(spark, gradient).data.count())))
  }
}
