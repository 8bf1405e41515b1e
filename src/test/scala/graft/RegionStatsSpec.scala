package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin
import graft.raquet.{FixtureGen, RaquetIO}

/** `RaquetIO.regionStatsTiles` is one range-pruned scan (no union) whose
  * merged stats equal a per-tile decode + clip + `rq_stats_merge`
  * reference, over the cover shapes and table layouts it meets. */
class RegionStatsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val gradient = "src/test/resources/raquet/gradient16.parquet"
  private val bip = "src/test/resources/raquet/gradient16_bip.parquet"

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("rs").toString

  private def rect(x0: Long, y0: Long, x1: Long, y1: Long, z: Int, inset: Double): String = {
    val (w, e) = (Quadbin.tileWest(x0, z) + inset, Quadbin.tileEast(x1, z) - inset)
    val (s, n) = (Quadbin.tileSouth(y1, z) + inset, Quadbin.tileNorth(y0, z) - inset)
    s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"
  }

  private def merged(df: DataFrame): DataFrame =
    df.agg(rq_stats_merge(col("s")).as("m"))
      .select("m.count", "m.min", "m.max", "m.sum", "m.mean", "m.stddev")

  /** The decode path: every tile at the cover zoom clipped by pixel, then merged. */
  private def reference(path: String, wkt: String, band: String): Row = {
    val ds = RaquetIO.read(spark, path)
    merged(ds.data.filter(quadbin_zoom(col("block")) === ds.meta.maxZoom)
      .select(rq_clip_stats(ds.band(band), col("block"), ds.meta, band, wkt).as("s")))
      .collect()(0)
  }

  /** Runs the query and returns its merged row, after checking that the
    * executed plan scans once and unions nothing. */
  private def oneScan(path: String, wkt: String, band: String): (DataFrame, Row) = {
    val tiles = RaquetIO.regionStatsTiles(spark, path, wkt, band)
    val df = merged(tiles)
    val row = df.collect()(0)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: FileSourceScanExec => s }.length == 1, s"scans in\n$plan")
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, s"union in\n$plan")
    (tiles, row)
  }

  /** count, min, max, sum and mean exact; stddev exact when every tile
    * decodes, else within the stats columns' reconstruction error. */
  private def assertMatches(got: Row, want: Row, exactStddev: Boolean): Unit = {
    assert(got.getLong(0) == want.getLong(0))
    (1 to 4).foreach(i => assert(got.getDouble(i) == want.getDouble(i), s"field $i"))
    if (exactStddev) assert(got.getDouble(5) == want.getDouble(5))
    else assert(math.abs(got.getDouble(5) - want.getDouble(5)) <= 1e-9 * want.getDouble(5))
  }

  test("gradient16: interior and boundary tiles from one scan equal the decode path") {
    val wkt = graft.operators.RaquetQueries.FastRegionWkt
    val (tiles, row) = oneScan(gradient, wkt, "band_1")
    assertMatches(row, reference(gradient, wkt, "band_1"), exactStddev = false)
    // the scan reads the stats columns and the blob once
    val schema = tiles.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }.get
    assert(Set("block", "band_1", "band_1_count", "band_1_stddev").subsetOf(schema), s"$schema")
    // no rows but the cover's
    val cover = graft.quadbin.Polyfill.cells(graft.geo.Wkt.parse(wkt), 6).toSet
    val blocks = tiles.select("block").collect().map(_.getLong(0))
    assert(blocks.nonEmpty && blocks.forall(cover))
  }

  test("written slope table: interior-heavy and boundary-only regions equal the decode path") {
    val dir = tmpDir() + "/slope"
    val (z, x0, y0) = (10, 512L, 384L)
    val meta = FixtureGen.slopeMetadata(z, x0, y0, 8, 8, 32, minZoom = z)
    RaquetIO.write(FixtureGen.slopeTiles(spark, z, x0, y0, 8, 8, 32), meta, dir,
      maxRecordsPerFile = 16)
    val big = rect(x0 + 1, y0 + 1, x0 + 6, y0 + 5, z, 1e-3)
    assertMatches(oneScan(dir, big, "band_1")._2, reference(dir, big, "band_1"),
      exactStddev = false)
    // inside one tile: no interior tile, every row takes the clip branch
    val w = Quadbin.tileWest(x0 + 2, z)
    val s = Quadbin.tileSouth(y0 + 3, z)
    val d = Quadbin.tileEast(x0 + 2, z) - w
    val small = s"POLYGON(($w $s, ${w + 0.6 * d} ${s + 0.1 * d}, ${w + 0.3 * d} ${s + 0.5 * d}, $w $s))"
    assert(graft.quadbin.Polyfill.splitCover(graft.geo.Wkt.parse(small), z)._1.isEmpty)
    assertMatches(oneScan(dir, small, "band_1")._2, reference(dir, small, "band_1"),
      exactStddev = true)
  }

  test("a region that misses the table gives no rows") {
    val far = rect(5, 5, 7, 7, 6, 0.1) // tiles 5..7, the data is at 32..39
    val (tiles, row) = oneScan(gradient, far, "band_1")
    assert(tiles.count() == 0)
    assert(row.isNullAt(0))
  }

  test("tables without stats columns, sequential or interleaved, clip every tile") {
    val dir = tmpDir() + "/nostats"
    val src = RaquetIO.read(spark, gradient)
    RaquetIO.write(src.data.drop(src.data.columns.filter(_.matches("band_\\d_.*")): _*),
      src.meta, dir)
    val wkt = graft.operators.RaquetQueries.FastRegionWkt
    for ((path, band) <- Seq(dir -> "band_1", bip -> "band_2")) {
      val (tiles, row) = oneScan(path, wkt, band)
      assertMatches(row, reference(path, wkt, band), exactStddev = true)
      assert(!tiles.queryExecution.optimizedPlan.toString.contains("CASE WHEN"),
        s"$path takes the stats-column branch")
    }
  }
}
