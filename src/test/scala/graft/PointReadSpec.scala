package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin
import graft.raquet.{FixtureGen, Maintenance, PixelCodec, RaquetIO}

/** `RaquetIO.readAt`: on a flat table the covering tile is read from the
  * footers on the driver, and a select + collect over it runs no Spark job;
  * on every layout its rows equal the scan form
  * `read(...).data.filter(block === b)`. */
class PointReadSpec extends SparkSpec {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"
  private val bip = "src/test/resources/raquet/gradient16_bip.parquet"
  private val temporal = "src/test/resources/raquet/gradient16_time.parquet"

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("rq-point").toString

  /** A point inside `cell`, off its center so it picks one pixel. */
  private def pointIn(cell: Long): (Double, Double) = {
    val b = Quadbin.cellBounds(cell)
    (b(0) + (b(2) - b(0)) * 0.37, b(1) + (b(3) - b(1)) * 0.61)
  }

  /** The point query in its scan form, the reference for [[RaquetIO.readAt]]. */
  private def scanForm(path: String, lon: Double, lat: Double, zoom: Int): DataFrame = {
    val ds = RaquetIO.read(spark, path)
    ds.data.filter(col("block") === Quadbin.fromLonLat(lon, lat, zoom))
  }

  /** Rows in a content order: blobs sort by their bytes, not their identity. */
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toSeq.map {
    case a: Array[Byte] => a.mkString(",")
    case v => String.valueOf(v)
  }.mkString("|"))

  /** `readAt` equals the scan form at (lon, lat, zoom): same schema, same rows. */
  private def assertSameAsScan(path: String, lon: Double, lat: Double, zoom: Int): Seq[Row] = {
    val point = RaquetIO.readAt(spark, path, lon, lat, zoom).data
    val scan = scanForm(path, lon, lat, zoom)
    assert(point.schema == scan.schema, s"$path ($lon, $lat, z$zoom)")
    val got = rows(point)
    assert(got == rows(scan), s"$path ($lon, $lat, z$zoom)")
    got
  }

  private def hasLocalScanOnly(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    plan.collect { case s: LocalTableScanExec => s }.nonEmpty &&
      plan.collect { case s: FileSourceScanExec => s }.isEmpty
  }

  /** gradient16 rewritten by the directory writer into 16-row files, with
    * band_2 of tile (35, 27) holding NaN at every pixel whose x + y is odd. */
  private lazy val written: String = {
    val dir = tmpDir() + "/written"
    val src = RaquetIO.read(spark, fixture)
    val nanTile = Quadbin.tileToCell(35, 27, 6)
    val values = Array.tabulate(256) { i =>
      val (gx, gy) = (35L * 16 + i % 16, 27L * 16 + i / 16)
      if ((gx + gy) % 2 == 1) Double.NaN else FixtureGen.v2(gx, gy)
    }
    val withNaN = udf(() => PixelCodec.encode(values, "float32", gzip = true))
    RaquetIO.write(src.data.withColumn("band_2",
      when(col("block") === nanTile, withNaN()).otherwise(col("band_2"))),
      src.meta, dir, maxRecordsPerFile = 16)
    dir
  }

  test("a point query on a flat table runs no Spark job and plans a local scan") {
    assert(new java.io.File(written).list().count(_.endsWith(".parquet")) > 2)
    for (path <- Seq(fixture, written)) {
      val meta = RaquetIO.readMetadata(spark, path)
      val (lon, lat) = pointIn(Quadbin.tileToCell(35, 27, 6))
      val (q, openJobs) = jobsDuring {
        val ds = RaquetIO.readAt(spark, path, lon, lat)
        ds.data.select(col("block"),
          rq_raster_value(col("band_1"), col("block"), lit(lon), lit(lat), meta, "band_1"))
      }
      val (got, collectJobs) = jobsDuring(q.collect())
      assert(openJobs == 0 && collectJobs == 0, s"$path: $openJobs + $collectJobs jobs")
      assert(got.map(_.getLong(0)).toSeq == Seq(Quadbin.tileToCell(35, 27, 6)), path)
      assert(hasLocalScanOnly(q), s"$path:\n${q.queryExecution.executedPlan}")
    }
  }

  test("every gradient16 tile equals the scan form, at every zoom and on every flat layout") {
    val tiles = RaquetIO.read(spark, fixture).data.select("block").collect().map(_.getLong(0))
    assert(tiles.length == 85)
    for (path <- Seq(fixture, written, s"$written/part-*"); cell <- tiles) {
      val (lon, lat) = pointIn(cell)
      val got = assertSameAsScan(path, lon, lat, Quadbin.zoom(cell))
      assert(got.map(_.getAs[Long]("block")) == Seq(cell), s"$path $cell")
    }
  }

  test("pixel values equal the scan form's, nodata and NaN pixels included") {
    val meta = RaquetIO.readMetadata(spark, written)
    // every pixel center of tile (35, 27): band_1 has nodata where
    // (gx + gy) % 31 == 0, band_2 is NaN at every odd gx + gy
    val n = 64 * 16
    val points = for (gy <- 27 * 16 until 28 * 16; gx <- 35 * 16 until 36 * 16) yield
      ((gx + 0.5) / n * 360.0 - 180.0,
        math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * (gy + 0.5) / n)))))
    def values(data: DataFrame, lon: Double, lat: Double): Row = data.select(
      rq_raster_value(col("band_1"), col("block"), lit(lon), lit(lat), meta, "band_1"),
      rq_raster_value(col("band_2"), col("block"), lit(lon), lit(lat), meta, "band_2"))
      .collect().head
    val got = points.map { case (lon, lat) =>
      val v = values(RaquetIO.readAt(spark, written, lon, lat).data, lon, lat)
      assert(v == values(scanForm(written, lon, lat, 6), lon, lat), s"($lon, $lat)")
      v
    }
    assert(got.count(_.isNullAt(0)) > 0 && got.count(!_.isNullAt(0)) > 0)
    assert(got.count(_.isNullAt(1)) == 128 && got.count(!_.isNullAt(1)) == 128)
  }

  test("an interleaved table's bands read through ds.band equal the scan form's") {
    val meta = RaquetIO.readMetadata(spark, bip)
    assert(meta.bandLayout == "interleaved")
    for (cell <- Seq(Quadbin.tileToCell(32, 24, 6), Quadbin.tileToCell(39, 31, 6))) {
      val (lon, lat) = pointIn(cell)
      val point = RaquetIO.readAt(spark, bip, lon, lat)
      val scan = RaquetIO.read(spark, bip)
      def pixels(ds: RaquetIO.RaquetDataset, data: DataFrame): Seq[Row] = rows(data.select(
        meta.bands.map(b => ds.band(b.name).as(b.name)): _*))
      val got = pixels(point, point.data)
      assert(got.length == 1)
      assert(got == pixels(scan, scan.data.filter(col("block") === cell)), s"$cell")
      assert(hasLocalScanOnly(point.data))
    }
  }

  test("a point outside the table returns no row") {
    for (path <- Seq(fixture, written)) {
      val q = RaquetIO.readAt(spark, path, -120.0, -40.0).data
      val (got, jobs) = jobsDuring(q.collect())
      assert(got.isEmpty && jobs == 0, path)
      assert(rows(scanForm(path, -120.0, -40.0, 6)).isEmpty)
    }
  }

  test("a footer without block statistics still finds its row") {
    val dir = tmpDir() + "/nostats"
    spark.read.parquet(fixture).coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .option("parquet.block.size", 4096L)
      .option("parquet.page.size.row.check.min", 1L)
      .option("parquet.page.size.row.check.max", 4L)
      .parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val groups = files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try reader.getFooter.getBlocks.asScala.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "block").get.getStatistics)
      finally reader.close()
    }
    assert(groups.length > 1 && groups.forall(s => s == null || s.isEmpty), groups)
    for (cell <- Seq(Quadbin.tileToCell(32, 24, 6), Quadbin.tileToCell(39, 31, 6),
        Quadbin.tileToCell(4, 3, 3))) {
      val (lon, lat) = pointIn(cell)
      val got = assertSameAsScan(dir, lon, lat, Quadbin.zoom(cell))
      assert(got.map(_.getAs[Long]("block")) == Seq(cell), s"$cell")
    }
  }

  test("partitioned and temporal tables return exactly what the scan returns") {
    val parted = tmpDir() + "/parted"
    Maintenance.partition(spark, fixture, parted, partZoom = 4)
    for (cell <- Seq(Quadbin.tileToCell(33, 25, 6), Quadbin.tileToCell(38, 30, 6))) {
      val (lon, lat) = pointIn(cell)
      val got = assertSameAsScan(parted, lon, lat, 6)
      assert(got.length == 1 && got.head.getAs[Long]("part") == Quadbin.ancestor(cell, 4))
      val t = assertSameAsScan(temporal, lon, lat, 6)
      assert(t.length == 6 && t.map(_.getAs[Double]("time_cf")).distinct.length == 6)
    }
    val (lon, lat) = pointIn(Quadbin.tileToCell(33, 25, 6))
    assert(!hasLocalScanOnly(RaquetIO.readAt(spark, parted, lon, lat).data))
    assert(!hasLocalScanOnly(RaquetIO.readAt(spark, temporal, lon, lat).data))
  }
}
