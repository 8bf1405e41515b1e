package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin
import graft.raquet.RaquetIO

/** Driver-verifiable raster queries over the committed gradient16 fixture
  * (see [[graft.raquet.FixtureGen]] for the closed-form pixel formulas).
  *
  * Verification strategy: the DuckDB oracle CANNOT gunzip band blobs, but it
  * doesn't need to — every pixel of the fixture is a closed-form function of
  * global pixel coordinates, and the quadbin bit-layout is pure integer math,
  * so the oracle recomputes tile ids, pixel values, per-tile stats, and even
  * pyramid levels from scratch in SQL. All band_2 arithmetic is dyadic
  * rational (exact in IEEE double in any summation order), so engine-vs-
  * oracle comparisons are exact, not approximate.
  */
object RaquetQueries {

  /** Absolute path so the DuckDB oracle reads the same bytes. */
  val Fixture = "/root/repo/src/test/resources/raquet/gradient16.parquet"
  /** Interleaved (BIP+gzip) layout variant of the same grid. */
  val FixtureBip = "/root/repo/src/test/resources/raquet/gradient16_bip.parquet"

  /** S1+S2+S3+P1+P7: scan, drop the metadata row, project stats columns +
    * derived zoom. The driver-level proof that the raquet read path works. */
  def q17RaquetScan(spark: SparkSession, dir: String): DataFrame =
    RaquetIO.read(spark, Fixture).data
      .select(col("block"), quadbin_zoom(col("block")).cast("long").as("zoom"),
        col("band_1_count"), col("band_1_min"), col("band_1_max"),
        col("band_1_sum"), col("band_2_count"), col("band_2_sum"))

  /** A9+A7: tiles + pre-aggregated stats per zoom (no blob decode — the
    * stats-column fast path, `docs/engines.md:327-350`). */
  def q18ZoomHistogram(spark: SparkSession, dir: String): DataFrame =
    RaquetIO.read(spark, Fixture).data
      .groupBy(quadbin_zoom(col("block")).cast("long").as("zoom"))
      .agg(count(lit(1)).as("n_tiles"),
        sum("band_1_count").as("valid_px"),
        min("band_1_min").as("b1_min"), max("band_1_max").as("b1_max"),
        sum("band_1_sum").as("b1_sum"), sum("band_2_sum").as("b2_sum"))

  /** P5: stats-threshold tile filter (benchmark Query B shape,
    * `scripts/benchmark.py:172-176`). */
  def q19StatsFilter(spark: SparkSession, dir: String): DataFrame =
    RaquetIO.read(spark, Fixture).data
      .filter(col("band_2_mean") > 370.0 && col("band_2_mean") < 410.0
        && quadbin_zoom(col("block")) === 6)
      .select(col("block"), col("band_2_mean"), col("band_2_sum"))

  /** S4+F12: batched point queries — 32 deterministic probes, each resolved
    * via quadbin_from_lonlat equality (pushdown-prunable) and decoded by
    * rq_raster_value with nodata→NULL and scale/offset. */
  def q20PointValue(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    // CAST-to-double everywhere: DuckDB would otherwise run this in DECIMAL
    // arithmetic and diverge from Spark's double results
    val probes = spark.range(32).toDF("id").selectExpr(
      "id",
      "CAST(0.3 AS DOUBLE) + CAST((id*137) % 4400 AS DOUBLE) / 100 AS lon",
      "CAST(0.7 AS DOUBLE) + CAST((id*91) % 3900 AS DOUBLE) / 100 AS lat")
      .withColumn("cell", quadbin_from_lonlat(col("lon"), col("lat"), lit(6)))
    probes.join(ds.data, probes("cell") === ds.data("block"), "inner")
      .select(col("id"), col("block"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").as("v1"),
        rq_raster_value(col("band_2"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_2").as("v2"))
  }

  /** A1+F7+F10: per-tile summary stats from DECODING the gzip band blobs at
    * native zoom — the oracle recomputes every pixel from the formula. */
  def q21TileStats(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"), rq_summary_stats(col("band_1"), ds.meta, "band_1").as("s"))
      .select(col("block"), col("s.count").as("n_valid"),
        col("s.min").as("vmin"), col("s.max").as("vmax"),
        col("s.sum").as("vsum"), col("s.sum_sq").as("vsumsq"))
  }

  /** A6+F13+J1+S5: region stats — spatial read (Morton-range pruning) +
    * center-mode clip + exact partial merge, one output row. */
  val RegionWkt: String = {
    // rectangle chosen with pixel-center margins >1e-3 degrees on every edge
    val w = 5.6371; val e = 11.9407; val s = 24.7113; val n = 30.2881
    s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"
  }

  def q22RegionStats(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.readRegion(spark, Fixture, RegionWkt, zoom = "max")
    ds.data
      .select(rq_clip_stats(col("band_1"), col("block"), ds.meta, "band_1", RegionWkt).as("s"))
      .agg(rq_stats_merge(col("s")).as("m"))
      .select(col("m.count").as("n_valid"), col("m.min").as("vmin"),
        col("m.max").as("vmax"), col("m.sum").as("vsum"))
  }

  /** A6 stats-column fast path (SURVEY §4's custom rewrite): same zonal
    * stats as q22 but interior tiles are answered from the pre-aggregated
    * `band_1_*` columns without decoding a single blob — only the boundary
    * ring decodes. The polygon spans 4×6 zoom-6 tiles with a 2×5 interior,
    * so both branches carry weight; the oracle recomputes every pixel from
    * the closed form, proving fast-path ≡ decode-path ≡ ground truth. */
  val FastRegionWkt: String =
    "POLYGON((2.0 5.0, 19.0 5.0, 19.0 32.0, 2.0 32.0, 2.0 5.0))"

  def q55RegionStatsFast(spark: SparkSession, dir: String): DataFrame =
    RaquetIO.regionStatsTiles(spark, Fixture, FastRegionWkt, "band_1")
      .agg(rq_stats_merge(col("s")).as("m"))
      .select(col("m.count").as("n_valid"), col("m.min").as("vmin"),
        col("m.max").as("vmax"), col("m.sum").as("vsum"))

  /** Third q100 zone — distinct from the q22/q55 rectangles. */
  val Zone3Wkt: String =
    "POLYGON((25.0 2.0, 40.0 2.0, 40.0 15.0, 25.0 15.0, 25.0 2.0))"

  /** Zonal statistics for a polygon TABLE (zone_id, wkt) — the many-region
    * generalization of q22's single-region path. Scale shape: zones explode
    * to (zone, cell) pairs via the dynamic polyfill (zones table ≪ raster →
    * broadcast), tiles join on cell id (no shuffle of the raster side
    * beyond the scan), per-(tile, zone) clip stats, then one exact-merge
    * hash aggregate per zone. Overlapping zones each see the tile — the
    * join, not a partitioner, defines membership. */
  def zonalStats(data: DataFrame, meta: graft.raquet.RaquetMetadata,
      band: String, zones: DataFrame): DataFrame = {
    val z = meta.maxZoom
    val cells = zones.select(col("zone_id"), col("wkt"),
      explode(st_polyfill_col(col("wkt"), lit(z))).as("cell"))
    data.filter(col("block") =!= 0L && quadbin_zoom(col("block")) === z)
      .join(broadcast(cells), col("block") === col("cell"))
      .select(col("zone_id"),
        rq_clip_stats_col(col(band), col("block"), col("wkt"), meta, band).as("s"))
      .groupBy("zone_id")
      .agg(rq_stats_merge(col("s")).as("m"))
      .select(col("zone_id"), col("m.count").as("n_valid"),
        col("m.min").as("vmin"), col("m.max").as("vmax"),
        col("m.sum").as("vsum"))
  }

  def q100ZonalStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, Fixture)
    val zones = Seq((1L, RegionWkt), (2L, FastRegionWkt), (3L, Zone3Wkt))
      .toDF("zone_id", "wkt")
    zonalStats(ds.data, ds.meta, "band_1", zones)
  }

  /** Same three zones through the STATS-COLUMN fast path
    * ([[RaquetIO.zonalStatsFastTiles]]): interior tiles never decode.
    * Shares q100's oracle — the driver hash proves fast ≡ decode ≡ ground
    * truth for the many-zone case, the q22/q55 pairing generalized. */
  def q101ZonalStatsFast(spark: SparkSession, dir: String): DataFrame =
    RaquetIO.zonalStatsFastTiles(spark, Fixture,
      Seq((1L, RegionWkt), (2L, FastRegionWkt), (3L, Zone3Wkt)), "band_1")
      .groupBy("zone_id")
      .agg(rq_stats_merge(col("s")).as("m"))
      .select(col("zone_id"), col("m.count").as("n_valid"),
        col("m.min").as("vmin"), col("m.max").as("vmax"),
        col("m.sum").as("vsum"))

  /** F13 (ST_Clip proper, `docs/engines.md:48`): per-pixel clip over a 4×4
    * tile window straddling the region's west (lon=2°) and east (lon=19°)
    * edges — x∈{33,34} tiles take the fully-inside fast path (no
    * point-in-polygon loop), x∈{32,35} take the masked path; pixels whose
    * center is outside → NULL. band_2 physical values are dyadic-exact, so
    * the oracle's closed-form recomputation hashes identically. */
  /** Focal 3×3 mean over the whole fixture raster ([[Focal.focalMean3x3]]):
    * every native tile, halo strips exchanged between the 64 tiles, raster
    * edges truncated. band_1 is integer-valued with a nonlinear (mod 255)
    * pattern and nodata stripes, so a misplaced or swapped halo strip — the
    * failure mode a linear field cannot see — changes values and fails the
    * oracle hash. Sums are exact integers, one division per pixel. */
  def q97FocalMean(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    Focal.focalMean3x3(ds.data, ds.meta, "band_1")
      .select(col("block"),
        posexplode(rq_decode(col("vals"), Focal.outKernel(ds.meta))))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null)).otherwise(col("col")).as("v"))
  }

  /** gdal_proximity over the fixture ([[Focal.proximity]]): chamfer-(1,√2)
    * distance to the nearest target-valued pixel via 3 ITERATIVE halo-
    * exchange relaxation rounds; pixels beyond the horizon decode +∞ →
    * NULL. min is order-independent, so the oracle's round-by-round
    * replay matches every double bit-for-bit. */
  def q228Proximity(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    Focal.proximity(ds.data, ds.meta, "band_1", target = 0.0, rounds = 3)
      .select(col("block"),
        posexplode(rq_decode(col("vals"), Focal.outKernel(ds.meta))))
      .select(col("block"), col("pos"),
        when(col("col") < lit(Double.PositiveInfinity), col("col"))
          .as("dist"))
  }

  /** gdal_fillnodata over the fixture ([[Focal.fillNodata3x3]]): valid
    * pixels pass through, nodata pixels IDW-fill from valid 3×3 neighbors
    * (weight 1 edge / 1/√2 diagonal, row-major accumulation — the oracle
    * replays the identical left-associated chain, so doubles match
    * bit-for-bit). */
  def q227FillNodata(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    Focal.fillNodata3x3(ds.data, ds.meta, "band_1")
      .select(col("block"),
        posexplode(rq_decode(col("vals"), Focal.outKernel(ds.meta))))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null)).otherwise(col("col")).as("v"))
  }

  /** q231 — gdal_grid IDW interpolation ([[Gridding.idwGrid]],
    * invdist:power=2:radius=6): 40 deterministic integer-coordinate
    * points over the q227 8×8-tile zone-6 window; every extent tile
    * emits (all-NaN where no point is in reach), decoded per pixel.
    * The oracle replays each pixel's 40-term IDW chain in pid order —
    * identical left-associated IEEE arithmetic, bit-exact doubles. */
  def q231IdwGrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = (0 until 40).map { k =>
      val px = 512L + (k * 37) % 128
      val py = 384L + (k * 53) % 128
      (k.toLong, px, py, ((7 * px + 13 * py) % 255).toDouble)
    }.toDF("pid", "px", "py", "v")
    val kernel = graft.raquet.BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    Gridding.idwGrid(pts, z = 6, x0 = 32, y0 = 24, nx = 8, ny = 8,
      kernel, radius = 6)
      .select(col("block"), posexplode(rq_decode(col("band_1"), kernel)))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null)).otherwise(col("col")).as("v"))
  }

  /** q255 — the rest of the gdal_grid algorithm family
    * ([[Gridding.statGridBands]]): average / nearest / count over the
    * q231 point set and extent, all three computed from ONE candidate
    * replicate + per-tile aggregate (a multi-band grid raster). The
    * oracle replays the average's left-associated pid-order chain, the
    * nearest argmin through the exact integer key d²·64+pid (ties to the
    * lowest pid, the kernel's first-in-array rule), and the integer
    * in-radius count. */
  def q255GridStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = (0 until 40).map { k =>
      val px = 512L + (k * 37) % 128
      val py = 384L + (k * 53) % 128
      (k.toLong, px, py, ((7 * px + 13 * py) % 255).toDouble)
    }.toDF("pid", "px", "py", "v")
    val kernel = graft.raquet.BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    def nn(c: org.apache.spark.sql.Column) =
      when(isnan(c), lit(null)).otherwise(c)
    Gridding.statGridBands(pts, z = 6, x0 = 32, y0 = 24, nx = 8, ny = 8,
        kernel, radius = 6, Seq("average", "nearest", "count"))
      .select(col("block"),
        rq_decode(col("band_average"), kernel).as("a"),
        rq_decode(col("band_nearest"), kernel).as("n"),
        rq_decode(col("band_count"), kernel).as("c"))
      .select(col("block"),
        posexplode(arrays_zip(col("a"), col("n"), col("c"))))
      .select(col("block"), col("pos"),
        nn(col("col.a")).as("avg_v"), nn(col("col.n")).as("near_v"),
        col("col.c").cast("long").as("cnt"))
  }

  /** q256 — gdal_viewshed ([[Viewshed.viewshed]]): two observers over the
    * fixture's zoom-6 DEM, Chebyshev radius 40 (both disks fully inside
    * the raster), eye heights +10 and +3. Every verdict is the exact
    * cross-multiplied integer angle test along the nearest-lattice-point
    * sightline, so the oracle replays each target's blocking set from the
    * closed form — nodata targets (the fixture's %31 speckle lines) are
    * NULL, nodata samples never block, grazing (equal-angle) rays pass. */
  def q256Viewshed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    val obs = Seq((1L, 576L, 448L, 10.0), (2L, 560L, 465L, 3.0))
      .toDF("oid", "ox", "oy", "oh")
    Viewshed.viewshed(native, ds.meta, "band_1", obs, z = 6, radius = 40)
  }

  /** q232 — gdal_sieve region labeling ([[Regions.regionLabels]] +
    * [[Regions.sieveFlags]]): the fixture's 2×2-tile window reclassified
    * into 4 classes (so equal-value regions are real shapes that CROSS
    * tile boundaries), labeled by the per-tile-union-find → boundary-
    * strip-graph → pointer-jumping composition, then sized and flagged
    * small (< 20 px). The oracle re-derives every label as the min
    * global pixel id of the 4-connected equal-class closure. */
  def q232RegionSieve(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val breaks = Array(64.0, 128.0, 192.0)
    val classes = Array(10.0, 20.0, 30.0, 40.0)
    val sub = ds.data.filter(quadbin_zoom(col("block")) === 6 &&
        quadbin_tile_x(col("block")) < 34 && quadbin_tile_y(col("block")) < 26)
      .select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1", breaks, classes)
          .as("band_1"))
    Regions.sieveFlags(sub, ds.meta, "band_1", minPixels = 20L)
  }

  /** q233 — full gdal_sieve APPLY ([[Regions.sieveApply]]): q232's window,
    * but small regions (< 20 px) actually take their largest neighbor's
    * value (original sizes, ties to the lower label; no-neighbor regions
    * keep theirs). Output = the sieved per-pixel values; the oracle
    * replays labeling closure, sizes, the cross-value adjacency graph,
    * and the argmax-neighbor choice. */
  def q233SieveApply(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val sub = ds.data.filter(quadbin_zoom(col("block")) === 6 &&
        quadbin_tile_x(col("block")) < 34 && quadbin_tile_y(col("block")) < 26)
      .select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1",
          Array(64.0, 128.0, 192.0), Array(10.0, 20.0, 30.0, 40.0))
          .as("band_1"))
    Regions.sieveApply(sub, ds.meta, "band_1", minPixels = 20L)
      .select(col("block"), col("pos"), col("v").cast("long").as("v"))
  }

  /** q236 — polygonize-lite region inventory ([[Regions.regionExtents]]):
    * one row per region of the q232 window with its class value, pixel
    * count and EXACT global-pixel bounding box — fragment bboxes
    * min/max-merge at region cardinality; the oracle recomputes every
    * extent from the min-label closure. */
  def q236RegionExtents(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val sub = ds.data.filter(quadbin_zoom(col("block")) === 6 &&
        quadbin_tile_x(col("block")) < 34 && quadbin_tile_y(col("block")) < 26)
      .select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1",
          Array(64.0, 128.0, 192.0), Array(10.0, 20.0, 30.0, 40.0))
          .as("band_1"))
    Regions.regionExtents(sub, ds.meta, "band_1")
      .select(col("label"), col("v").cast("long").as("v"), col("n_px"),
        col("gx0"), col("gy0"), col("gx1"), col("gy1"))
  }

  /** q240 — FULL polygonize ([[Regions.regionRings]]): every boundary ring
    * of the q232 window's regions as an ordered, collinear-collapsed,
    * closed WKT point list with exact signed area and outer/hole
    * classification — per-tile segment kernels over the focal halo
    * exchange, ring identity by pointer-jumping on the successor
    * permutation, ring ORDER by pointer-doubling list ranking. The oracle
    * re-derives labels (min-gid closure), every boundary segment, the
    * square-tracing successor, ring membership, the ordered walk, and the
    * WKT strings in SQL. */
  def q240Polygonize(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val sub = ds.data.filter(quadbin_zoom(col("block")) === 6 &&
        quadbin_tile_x(col("block")) < 34 && quadbin_tile_y(col("block")) < 26)
      .select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1",
          Array(64.0, 128.0, 192.0), Array(10.0, 20.0, 30.0, 40.0))
          .as("band_1"))
    Regions.regionRings(sub, ds.meta, "band_1")
  }

  /** q248 — gdal_footprint: the valid-data footprint polygons of the q240
    * window as WKT rings — [[Regions.regionRings]] over the VALID-pixel
    * mask (reclassify with zero breaks maps every valid pixel to class 1,
    * nodata stays nodata). Outer rings = footprint, holes = the nodata
    * speckles; same halo-exchange segment machinery as q240. */
  def q248Footprint(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val sub = ds.data.filter(quadbin_zoom(col("block")) === 6 &&
        quadbin_tile_x(col("block")) < 34 && quadbin_tile_y(col("block")) < 26)
      .select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1",
          Array.empty[Double], Array(1.0)).as("band_1"))
    Regions.regionRings(sub, ds.meta, "band_1")
  }

  /** q249 — gdal_translate -scale/-ot ([[graft.functions.GraftFunctions
    * .rq_translate]]): linear DN rescale re-encoded to a new dtype, one
    * codegen'd kernel, no shuffle. Two variants over the whole fixture:
    * uint8→uint16 promotion (×257, so 255→65535 — the classic 8→16-bit
    * stretch) and an in-dtype contrast stretch (2·v − 100) that engages
    * the range clamp on both ends. Nodata maps to the output nodata. */
  def q249Translate(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    def variant(name: String, outDtype: String, outNodata: Double,
        a: Double, b: Double): DataFrame = {
      val outK = graft.raquet.BandKernel(outDtype, outNodata,
        ds.meta.blockWidth, ds.meta.blockHeight, 1.0, 0.0)
      native.select(lit(name).as("variant"), col("block"),
        posexplode(rq_decode(
          rq_translate(col("band_1"), ds.meta, "band_1", outDtype,
            outNodata, a, b), outK)))
        .select(col("variant"), col("block"), col("pos"),
          col("col").cast("long").as("dn"))
    }
    variant("u16_promote", "uint16", 65535.0, 257.0, 0.0)
      .unionByName(variant("u8_stretch", "uint8", 255.0, 2.0, -100.0))
  }

  /** q251 — gdaldem MULTIDIRECTIONAL hillshade ([[Focal
    * .focalHillshadeMd3x3]], the `-multidirectional` flag — Mark 1992):
    * four sun azimuths weighted by sin²(aspect − azimuth) over the same
    * strict-window halo exchange as q102; round(7) on both engines
    * absorbs the ≤2-ulp libm spread of the trig calls. */
  def q251HillshadeMd(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    Focal.focalHillshadeMd3x3(ds.data, ds.meta, "band_1")
      .select(col("block"),
        posexplode(rq_decode(col("vals"), Focal.outKernel(ds.meta))))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null))
          .otherwise(round(col("col"), 7)).as("v"))
  }

  /** q253 — Zevenbergen–Thorne slope (gdaldem's `-alg ZevenbergenThorne`,
    * [[Focal.focalSlope3x3]] with alg = "zt"): simple central differences
    * over the 4 EDGE neighbors — corners are ignored, so the strict window
    * needs only center + 4 edge cells (more pixels survive near nodata
    * than Horn's 9-cell window). round(7) absorbs the atan libm spread. */
  def q253SlopeZt(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    Focal.focalSlope3x3(ds.data, ds.meta, "band_1", alg = "zt")
      .select(col("block"),
        posexplode(rq_decode(col("vals"), Focal.outKernel(ds.meta))))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null))
          .otherwise(round(col("col"), 7)).as("v"))
  }

  /** q250 — gdal_pansharpen (Brovey): build the z5 multispectral overview
    * (average), upsample it back to the z6 pan grid (NN ×2,
    * [[graft.raquet.Pyramid.upsampleLevel]] — zero shuffle), stack with
    * the pan band by ONE block equi-join, and apply the weighted-ratio
    * kernel sharp_i = M_i·P/mean(M) over physical values
    * ([[graft.raquet.Pansharpen.brovey]]). Every input is dyadic-exact
    * (the z5 averages have closed forms), so the oracle replays the exact
    * expression tree bit-for-bit; invalid pan pixels → NULL. */
  def q250Pansharpen(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    val ms = graft.raquet.Pyramid.buildLevel(native, ds.meta, 5)
    val up = graft.raquet.Pyramid.upsampleLevel(ms, ds.meta, 6)
      .select(col("block"), col("band_1").as("m1"), col("band_2").as("m2"))
    val outK = graft.operators.Focal.outKernel(ds.meta)
    native.select(col("block"), col("band_1").as("pan"))
      .join(up, "block")
      .select(col("block"),
        rq_decode(rq_brovey(col("pan"), col("m1"), col("m2"), ds.meta,
          "band_1", "band_1", "band_2"), outK).as("s1"),
        rq_decode(rq_brovey(col("pan"), col("m2"), col("m1"), ds.meta,
          "band_1", "band_2", "band_1"), outK).as("s2"))
      .select(col("block"), posexplode(arrays_zip(col("s1"), col("s2"))))
      .select(col("block"), col("pos"),
        when(isnan(col("col.s1")), lit(null)).otherwise(col("col.s1"))
          .as("sharp1"),
        when(isnan(col("col.s2")), lit(null)).otherwise(col("col.s2"))
          .as("sharp2"))
  }

  /** q238 — MODE (majority) overview resampling ([[graft.raquet.Pyramid
    * .buildLevel]] with resampling = "mode"): the categorical-safe kernel
    * (most frequent valid child per 2×2, ties to the LOWEST value, never
    * an invented class) over band_1, whose nodata speckle makes partial
    * cells real. Per-pixel DN output; the oracle re-derives every parent
    * pixel's majority from the native closed form. */
  def q238PyramidMode(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    graft.raquet.Pyramid.buildLevel(native, ds.meta, 5, "mode")
      .select(col("block"),
        posexplode(rq_decode(col("band_1"), ds.meta, "band_1")))
      .select(col("block"), col("pos"), col("col").cast("long").as("dn"))
  }

  /** q239 — BILINEAR overview resampling (strict 4-tap: the parent pixel
    * center sits on its 4 children's shared corner, equal weights; ANY
    * invalid tap → nodata instead of smearing across the hole). Integer
    * band → half-even rounding, replayed exactly by the oracle's
    * floor-plus-parity arithmetic. */
  def q239PyramidBilinear(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    graft.raquet.Pyramid.buildLevel(native, ds.meta, 5, "bilinear")
      .select(col("block"),
        posexplode(rq_decode(col("band_1"), ds.meta, "band_1")))
      .select(col("block"), col("pos"), col("col").cast("long").as("dn"))
  }

  /** One resampling variant's zoom-5 overview as (kernel, block, pos, dn). */
  private def pyramidVariant(spark: SparkSession, resampling: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    graft.raquet.Pyramid.buildLevel(native, ds.meta, 5, resampling)
      .select(lit(resampling).as("kernel"), col("block"),
        posexplode(rq_decode(col("band_1"), ds.meta, "band_1")))
      .select(col("kernel"), col("block"), col("pos"),
        col("col").cast("long").as("dn"))
  }

  /** q241 — ORDER-STATISTIC overview resampling (min/max/med/q1/q3,
    * [[graft.raquet.Downsample]]): sorted valid children, nearest-rank-lower
    * index — deterministic and categorical-safe (never interpolates). The
    * oracle sorts the same closed-form child lists and indexes them. */
  def q241PyramidOrder(spark: SparkSession, dir: String): DataFrame =
    Seq("min", "max", "med", "q1", "q3").map(pyramidVariant(spark, _))
      .reduce(_ unionByName _)

  /** q242 — RMS + SUM overview resampling: sqrt-of-mean-square with
    * half-even integer rounding (oracle replays rint via floor-plus-parity;
    * sqrt is correctly rounded IEEE in both engines, so exact), and the
    * dtype-SATURATED sum (GDAL's SUM overview clamps the same way — an
    * unclamped uint8 sum would alias through encode's wraparound). */
  def q242PyramidRmsSum(spark: SparkSession, dir: String): DataFrame =
    Seq("rms", "sum").map(pyramidVariant(spark, _)).reduce(_ unionByName _)

  /** q243 — CUBIC (Catmull-Rom) overview resampling through
    * [[graft.raquet.Pyramid.buildLevelConvolved]]'s halo exchange: 4×4 taps
    * per parent pixel at half-pixel phase (weights 9/16, −1/16 — exact
    * binary), invalid taps renormalized (num/den over valid, den ≤ 0 →
    * nodata), half-even rint + dtype clamp. Taps cross tile edges, so this
    * also driver-proves the ring-strip halo shuffle: the oracle re-derives
    * every tap from the closed form with the SAME IEEE summation order. */
  def q243PyramidCubic(spark: SparkSession, dir: String): DataFrame =
    pyramidVariant(spark, "cubic")

  /** q244 — CUBICSPLINE (cubic B-spline: 23/48, 1/48): same halo path as
    * q243 with an always-positive kernel (no overshoot, heavier smoothing). */
  def q244PyramidCubicspline(spark: SparkSession, dir: String): DataFrame =
    pyramidVariant(spark, "cubicspline")

  /** q245 — LANCZOS a=3: 6×6 taps (R = 2 halo pixels), weights 6/π²,
    * −4/(3π²), 6/(25π²) shared between engine and oracle as the same IEEE
    * doubles, renormalized over valid taps. */
  def q245PyramidLanczos(spark: SparkSession, dir: String): DataFrame =
    pyramidVariant(spark, "lanczos")

  /** Horn's-method slope over the fixture ([[Focal.focalSlope3x3]]), same
    * halo exchange as q97 but with the strict all-9-cells window (any
    * missing/nodata neighbor → NULL). Everything before atan is IEEE-exact
    * on the integer band; round(7) on both engines absorbs the ≤2-ulp libm
    * spread of atan/degrees, the only non-correctly-rounded ops. */
  def q98FocalSlope(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    Focal.focalSlope3x3(ds.data, ds.meta, "band_1")
      .select(col("block"),
        posexplode(rq_decode(col("vals"), Focal.outKernel(ds.meta))))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null))
          .otherwise(round(col("col"), 7)).as("v"))
  }

  /** Full terrain triple (slope/aspect/hillshade, [[Focal.focalTerrain3x3]])
    * per pixel — q98's window machinery, three derived surfaces in one
    * pass. round(7) absorbs the atan/atan2/trig libm spread, everything
    * else is IEEE-exact on the integer band. */
  def q102FocalTerrain(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    def r7(c: org.apache.spark.sql.Column) =
      when(isnan(c), lit(null)).otherwise(round(c, 7))
    val k = Focal.outKernel(ds.meta)
    Focal.focalTerrain3x3(ds.data, ds.meta, "band_1")
      .select(col("block"),
        rq_decode(col("t.slope"), k).as("slope"),
        rq_decode(col("t.aspect"), k).as("aspect"),
        rq_decode(col("t.hillshade"), k).as("hillshade"))
      .select(col("block"),
        posexplode(expr("arrays_zip(slope, aspect, hillshade)")))
      .select(col("block"), col("pos"),
        r7(col("col.slope")).as("slope"),
        r7(col("col.aspect")).as("aspect"),
        r7(col("col.hillshade")).as("hillshade"))
  }

  /** q204 — the rest of the gdaldem family ([[Focal.focalTpi3x3]]): TPI
    * (center − neighbor mean), TRI (Riley: sqrt of summed squared diffs)
    * and roughness (window max − min) per pixel, strict windows. NO
    * rounding slop: every step is exact on the integer band (sums of ≤8
    * small integers, division by 8) and IEEE sqrt is correctly rounded, so
    * the oracle matches bit-for-bit. */
  def q204FocalTpi(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    def nn(c: org.apache.spark.sql.Column) =
      when(isnan(c), lit(null)).otherwise(c)
    val k = Focal.outKernel(ds.meta)
    Focal.focalTpi3x3(ds.data, ds.meta, "band_1")
      .select(col("block"),
        rq_decode(col("t.tpi"), k).as("tpi"),
        rq_decode(col("t.tri"), k).as("tri"),
        rq_decode(col("t.roughness"), k).as("roughness"))
      .select(col("block"),
        posexplode(expr("arrays_zip(tpi, tri, roughness)")))
      .select(col("block"), col("pos"),
        nn(col("col.tpi")).as("tpi"),
        nn(col("col.tri")).as("tri"),
        nn(col("col.roughness")).as("roughness"))
  }

  /** q205 — gdaldem color-relief: band_1 maps through a 4-entry color
    * ramp (linear interpolation between entries, end-clamped, round half
    * up, nodata → 0/0/0) into three first-class uint8 band blobs. The
    * oracle replays the exact interpolation expression per pixel. */
  def q205ColorRelief(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val breaks = Seq(0.0, 100.0, 200.0, 254.0)
    val colors = Seq((0, 0, 255), (0, 255, 0), (255, 255, 0), (255, 0, 0))
    val k8 = graft.raquet.BandKernel("uint8", Double.NaN,
      ds.meta.blockWidth, ds.meta.blockHeight, 1.0, 0.0)
    ds.data.filter(quadbin_zoom(col("block")) === ds.meta.maxZoom)
      .select(col("block"),
        rq_color_relief(col("band_1"), ds.meta, "band_1", breaks, colors)
          .as("c"))
      .select(col("block"),
        rq_decode(col("c.r"), k8).as("r"),
        rq_decode(col("c.g"), k8).as("g"),
        rq_decode(col("c.b"), k8).as("b"))
      .select(col("block"), posexplode(expr("arrays_zip(r, g, b)")))
      .select(col("block"), col("pos"),
        col("col.r").cast("bigint").as("r"),
        col("col.g").cast("bigint").as("g"),
        col("col.b").cast("bigint").as("b"))
  }

  /** Exact per-tile percentiles (p50/p95) over valid pixels — pure
    * built-ins: decode → filter nodata/NaN → array_sort → index pick at
    * floor(q·(n−1)), all inside whole-stage codegen, no new kernel and no
    * shuffle. The order-statistic convention (lower value at the fractional
    * rank) is chosen because both engines select by POSITION in the sorted
    * list, making ties and floats irrelevant to determinism. */
  def q103TilePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data.filter(quadbin_zoom(col("block")) === ds.meta.maxZoom)
      .select(col("block"), rq_decode(col("band_1"), ds.meta, "band_1").as("px"))
      .withColumn("vals", expr(
        "array_sort(filter(px, x -> NOT isnan(x) AND NOT (x = 255.0D)))"))
      .withColumn("n_valid", expr("CAST(size(vals) AS BIGINT)"))
      .select(col("block"), col("n_valid"),
        expr("element_at(vals, CAST(floor(0.5 * (n_valid - 1)) AS INT) + 1)").as("p50"),
        expr("element_at(vals, CAST(floor(0.95 * (n_valid - 1)) AS INT) + 1)").as("p95"))
  }

  def q58ClipPixels(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val tiles = for { x <- 32L to 35L; y <- 27L to 30L }
      yield Quadbin.tileToCell(x, y, 6)
    ds.data.filter(col("block").isin(tiles: _*))
      .select(col("block"),
        posexplode(rq_clip(col("band_2"), col("block"), ds.meta, "band_2",
          FastRegionWkt)))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null)).otherwise(col("col")).as("v"))
  }

  /** F14 stats form (ST_NormalizedDifferenceStats, `docs/engines.md:100`):
    * fused per-tile ND stats over q23's tiles. Driver-compares the
    * order-insensitive fields (count, min, max — bit-identical across
    * engines); sum/mean accumulate non-dyadic doubles whose value is
    * summation-order-dependent, so those are spec-verified JVM-side against
    * the per-pixel ND array instead. */
  def q59NdStats(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val tiles = Seq((36L, 28L), (37L, 28L), (36L, 29L), (37L, 29L))
      .map { case (x, y) => Quadbin.tileToCell(x, y, 6) }
    ds.data.filter(col("block").isin(tiles: _*))
      .select(col("block"),
        rq_normalized_difference_stats(col("band_2"), col("band_1"),
          ds.meta, "band_2", "band_1").as("s"))
      .select(col("block"), col("s.count").as("nd_count"),
        round(col("s.min"), 7).as("nd_min"), round(col("s.max"), 7).as("nd_max"))
  }

  /** F14: per-pixel normalized difference over 4 tiles; NaN (nodata) → NULL
    * so both engines hash identically. */
  def q23Ndvi(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val tiles = Seq((36L, 28L), (37L, 28L), (36L, 29L), (37L, 29L))
      .map { case (x, y) => Quadbin.tileToCell(x, y, 6) }
    ds.data.filter(col("block").isin(tiles: _*))
      .select(col("block"),
        posexplode(rq_normalized_difference(col("band_2"), col("band_1"),
          ds.meta, "band_2", "band_1")))
      .select(col("block"), col("pos"),
        when(isnan(col("col")), lit(null)).otherwise(round(col("col"), 7)).as("nd"))
  }

  /** M5 proof at the driver level: band_2 per-tile pixel sums across ALL
    * pyramid levels; the oracle re-derives every overview pixel from the
    * native formula (averaging is exact on dyadic rationals). */
  def q24PyramidSums(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data
      .select(col("block"), quadbin_zoom(col("block")).cast("long").as("zoom"),
        rq_summary_stats(col("band_2"), ds.meta, "band_2").as("s"))
      .select(col("block"), col("zoom"),
        col("s.count").as("n_px"), col("s.sum").as("vsum"))
  }

  /** M2: validator core as a query — structural invariants recomputed by
    * both engines (counts, PK uniqueness, zoom range, quadbin validity,
    * metadata num_blocks consistency). */
  def q25Validate(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val data = ds.data
    data.agg(
      count(lit(1)).as("n_blocks"),
      countDistinct(col("block")).as("n_distinct"),
      min(quadbin_zoom(col("block"))).cast("long").as("min_zoom"),
      max(quadbin_zoom(col("block"))).cast("long").as("max_zoom"),
      bool_and(quadbin_is_valid(col("block"))).as("all_valid"),
      bool_and(col("band_1").isNotNull && col("band_2").isNotNull).as("bands_present"))
      .withColumn("meta_num_blocks", lit(ds.meta.numBlocks))
  }

  /** F15-F17: CF numeric time → timestamps across every supported unit,
    * incl. calendar-arithmetic months/years (negative offsets too) and the
    * non-Gregorian→NULL path. */
  def q33CfTime(spark: SparkSession, dir: String): DataFrame =
    spark.range(48).toDF("id")
      .selectExpr("id", "CAST((id*7) % 100 - 30 AS DOUBLE) AS v")
      .select(col("id"), col("v"),
        cf_to_timestamp(col("v"), "minutes since 1980-01-01 00:00:00").as("ts_min"),
        cf_to_timestamp(col("v"), "hours since 1990-06-15 12:30:00").as("ts_hr"),
        cf_to_timestamp(col("v"), "days since 1850-01-01").as("ts_day"),
        cf_to_timestamp(col("v"), "months since 2000-01-15").as("ts_mon"),
        cf_to_timestamp(col("v"), "years since 1995-06-10").as("ts_yr"),
        cf_to_timestamp(col("v"), "days since 2000-01-01", "360_day").as("ts_360"))

  /** Multimodal plumbing over the fixture's binary tiles: inflate (gzip),
    * fixed-stride frame sampling via SQL substring, typed decode of each
    * frame, nearest-neighbour resize — features the oracle recomputes from
    * the pixel formula. */
  def q34Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val tiles = ds.data
      .filter(quadbin_zoom(col("block")) === 6 && quadbin_tile_y(col("block")) === 24)
      .select(col("block"), rq_inflate(col("band_1")).as("raw"))
    tiles
      .select(col("block"), col("raw"), explode(sequence(lit(0), lit(3))).as("f"))
      .withColumn("frame", expr("substring(raw, f*64 + 1, 64)"))
      .withColumn("fpx", rq_decode(col("frame"), ds.meta, "band_1"))
      .withColumn("rpx", rq_decode(
        mm_resize(col("raw"), lit(8), lit(8), 16, 16, 1), ds.meta, "band_1"))
      .select(col("block"), col("f"),
        element_at(col("fpx"), 1).as("first_px"),
        aggregate(col("fpx"), lit(0.0), (a, x) => a + x).as("frame_sum"),
        aggregate(col("rpx"), lit(0.0), (a, x) => a + x).as("resize_sum"))
  }

  /** Video-shaped multimodal: q34's frame strips assembled into a REAL
    * animated-WebP clip (VP8X/ANIM/ANMF, lossless VP8L frames) per tile,
    * then frame-SAMPLED every 2nd frame through the container kernel
    * (`mm_webp_frame` decodes only the requested frame's bitstream). VP8L
    * is lossless, so sampled pixel sums equal the fixture closed form —
    * proving assemble → container walk → single-frame decode end to end. */
  def q128VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data
      .filter(quadbin_zoom(col("block")) === 6 && quadbin_tile_y(col("block")) === 24)
      .select(col("block"), rq_inflate(col("band_1")).as("raw"))
      .withColumn("frames",
        expr("transform(sequence(0, 3), f -> substring(raw, f*64 + 1, 64))"))
      .withColumn("clip", mm_webp_anim(col("frames"), 16, 4, 1, 100))
      .withColumn("inf", mm_webp_anim_info(col("clip")))
      .withColumn("f", explode(sequence(lit(0), lit(3), lit(2))))
      .withColumn("px", mm_webp_frame(col("clip"), col("f"), 1))
      .select(col("block"), col("f"),
        col("inf.width").as("width"), col("inf.height").as("height"),
        col("inf.n_frames").as("n_frames"),
        col("inf.duration_ms").as("duration_ms"),
        mm_u8_sum(col("px")).as("frame_sum"),
        expr("CAST(conv(hex(substring(px, 1, 1)), 16, 10) AS BIGINT)").as("first_px"))
  }

  /** PMTiles v3 archive round trip (S7/S11 family: the static single-file
    * tile archive, public protomaps spec): 16 closed-form WebP-lossless
    * tiles at z=2 — two sharing identical content to exercise the spec's
    * tile dedup — written clustered + Hilbert-ordered, then scanned back
    * distributed (driver reads header/directories only; executors fetch
    * coalesced ranges). Pixel sums must equal the closed form through
    * write → directory walk → range fetch → WebP decode. */
  def q131PmTiles(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q131"
    new java.io.File(tmp).mkdirs()
    val path = s"$tmp/fixture.pmtiles"
    val tiles = for (y <- 0L until 4L; x <- 0L until 4L) yield {
      val c = (x + 4 * y) % 15 // tiles (0,0) and (3,3) share content
      val px = Array.tabulate(16 * 16)(i => ((c * 31 + (i % 16) * 5 + (i / 16) * 3) % 251).toByte)
      (2, x, y, graft.raquet.Multimodal.encodeWebP(px, 16, 16, 1))
    }
    graft.sources.PmTiles.write(path, tiles, graft.sources.PmTiles.TypeWebp)
    graft.sources.PmTiles.scanDf(spark, path)
      .select(col("zoom"), col("x"), col("y"), col("tile_id"),
        mm_u8_sum(mm_webp_pixels(col("tile"), 1)).as("px_sum"))
  }

  /** PMTiles publish: [[graft.sources.TileCache.exportPmTiles]] renders the
    * fixture (executor-side) into one archive, which is then re-opened and
    * every PNG decoded — identical content contract to the q111 file tree
    * (same oracle), proving the publish twin byte-for-meaning. */
  def q132PmTilesExport(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q132"
    new java.io.File(tmp).mkdirs()
    val out = s"$tmp/fixture_export.pmtiles"
    val n = graft.sources.TileCache.exportPmTiles(spark, Fixture, out)
    require(n == 85, s"expected 85 tiles exported, got $n")
    val r = graft.sources.PmTiles.open(out)
    val rows = try {
      require(r.header.tileType == graft.sources.PmTiles.TypePng, "tile type must be PNG")
      r.entries.flatMap { e =>
        (0 until math.max(1, e.runLength)).map { k =>
          val (z, x, y) = graft.sources.PmTiles.tileIdToZxy(e.tileId + k)
          val png = r.getTile(z, x, y).get
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
          var sum = 0L; var opaque = 0L; var transparent = 0L
          for (j <- 0 until img.getHeight; i <- 0 until img.getWidth) {
            val argb = img.getRGB(i, j)
            if ((argb >>> 24) == 0) transparent += 1
            else { sum += argb & 0xFF; opaque += 1 }
          }
          (Quadbin.tileToCell(x, y, z), opaque, transparent, sum)
        }
      }.filter { case (block, _, _, _) => Quadbin.zoom(block) == 6 }
    } finally r.close()
    import spark.implicits._
    rows.toDF("block", "n_opaque", "n_transparent", "gray_sum")
  }

  /** M9 driver proof — file-level tile UPSERT: the fixture materialized as
    * a multi-file directory dataset, then one tile replaced (content of
    * another tile) and one brand-new native tile inserted. Only the files
    * whose block range overlaps the two keys may be rewritten; num_blocks
    * refreshes incrementally. Output: per-tile raw sums over the result,
    * which the oracle re-derives from the closed form with the swap
    * applied, plus the refreshed metadata count. */
  def q133Upsert(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q133"
    graft.raquet.RaquetIO.deleteTree(tmp)
    val out = s"$tmp/ds"
    val ds = RaquetIO.read(spark, Fixture)
    RaquetIO.write(ds.data, ds.meta, out, maxRecordsPerFile = 16)
    val c3931 = Quadbin.tileToCell(39, 31, 6)
    val c3224 = Quadbin.tileToCell(32, 24, 6)
    val c3325 = Quadbin.tileToCell(33, 25, 6)
    val c4024 = Quadbin.tileToCell(40, 24, 6)
    val d0 = RaquetIO.read(spark, out).data
    val updates = d0.filter(col("block") === c3931).withColumn("block", lit(c3224))
      .unionByName(d0.filter(col("block") === c3325).withColumn("block", lit(c4024)))
    val rep = graft.raquet.Maintenance.upsert(spark, out, updates)
    require(rep.rowsReplaced == 1 && rep.rowsInserted == 1,
      s"expected 1 replace + 1 insert, got $rep")
    require(rep.filesRewritten < rep.filesTotal,
      s"upsert must be file-local, rewrote ${rep.filesRewritten}/${rep.filesTotal}")
    val d2 = RaquetIO.read(spark, out)
    d2.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"),
        mm_u8_sum(rq_inflate(col("band_1"))).as("s1"))
      .withColumn("meta_num_blocks", lit(d2.meta.numBlocks))
  }

  /** M9 + pyramid refresh driver proof
    * ([[graft.raquet.Maintenance.upsertWithPyramid]]): two 64-px-ALIGNED
    * 4×4 native-tile groups swap contents (A = tiles x∈[32,36) y∈[24,28),
    * B = x∈[36,40) y∈[28,32)), then the incremental ancestor rebuild must
    * leave every overview level equal to a from-scratch pyramid of the
    * swapped natives. The alignment makes the oracle exact at every zoom:
    * each pyramid pixel's native-px footprint (2^k ≤ 64, dividing the
    * region size) lies wholly inside or outside the moved regions, so its
    * value is the fixture's closed form evaluated at a ±64-shifted source
    * position. The z3 root exercises the mixed rebuild (two of its z4
    * children rebuilt, two read back untouched). */
  def q153UpsertPyramid(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q153"
    graft.raquet.RaquetIO.deleteTree(tmp)
    val out = s"$tmp/ds"
    val ds = RaquetIO.read(spark, Fixture)
    RaquetIO.write(ds.data, ds.meta, out, maxRecordsPerFile = 16)
    val d0 = RaquetIO.read(spark, out).data
    def inGroup(x0: Int, y0: Int) =
      quadbin_tile_x(col("block")).between(x0, x0 + 3) &&
        quadbin_tile_y(col("block")).between(y0, y0 + 3)
    def shifted(dx: Int) = quadbin_from_tile(
      quadbin_tile_x(col("block")) + dx, quadbin_tile_y(col("block")) + dx,
      lit(6))
    val native = d0.filter(quadbin_zoom(col("block")) === 6)
    val updates = native.filter(inGroup(32, 24)).withColumn("block", shifted(4))
      .unionByName(native.filter(inGroup(36, 28)).withColumn("block", shifted(-4)))
    val rep = graft.raquet.Maintenance.upsertWithPyramid(spark, out, updates)
    require(rep.rowsReplaced == 32 && rep.rowsInserted == 0,
      s"expected 32 replacements, got $rep")
    val d2 = RaquetIO.read(spark, out)
    d2.data
      .select(col("block"), quadbin_zoom(col("block")).cast("long").as("zoom"),
        rq_summary_stats(col("band_2"), d2.meta, "band_2").as("s"))
      .select(col("block"), col("zoom"),
        col("s.count").as("n_px"), col("s.sum").as("vsum"))
  }

  /** Temporal composite driver proof ([[graft.operators.Temporal]]): the
    * six-timestep CF time fixture collapses into per-block mean / max /
    * valid-count composites in ONE block-grouped aggregate; every pixel of
    * every derived blob compares against the closed form (all dyadic —
    * mean of 16·{0..5} is exactly 40). */
  def q154TemporalComposite(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val comp = graft.operators.Temporal.composite(ds.data, ds.meta, "band_1",
      Seq("mean", "max", "count"))
    val k = graft.operators.Focal.outKernel(ds.meta)
    comp.select(col("block"),
        posexplode(arrays_zip(
          rq_decode(col("band_1_mean"), k),
          rq_decode(col("band_1_max"), k),
          rq_decode(col("band_1_count"), k))))
      .select(col("block"), col("pos").cast("long").as("pos"),
        col("col.0").as("v_mean"), col("col.1").as("v_max"),
        col("col.2").as("n_obs"))
  }

  /** Temporal anomaly driver proof ([[graft.operators.Temporal.anomaly]]):
    * observation minus climatology per pixel. On the time fixture the
    * anomaly is pixel-independent — 16·t − 40 for t ∈ 0..5 — so the
    * per-(block, timestep) aggregate pins every pixel: count 256,
    * min = max = the closed form, sum = 256·(16t − 40). */
  def q155TemporalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val an = graft.operators.Temporal.anomaly(ds.data, ds.meta, "band_1")
    an.select(col("block"), col("time_cf"),
        explode(col("band_1_anomaly")).as("a"))
      .groupBy(col("block"), col("time_cf"))
      .agg(count(lit(1)).as("n_px"),
        min(col("a")).as("a_min"), max(col("a")).as("a_max"),
        sum(col("a")).as("a_sum"))
  }

  /** q261 — per-pixel temporal OLS trend ([[graft.operators.Temporal
    * .trend]]): the time fixture reshaped into a non-trivial regression —
    * each tile drops the timesteps with (x+y+t) % 5 = 0 (so the design
    * matrix varies per tile, n ∈ {4,5}) and three epoch branches recode
    * values linearly (s,o) = (1,0)/(2,−10)/(3,5) via rq_translate, making
    * the per-pixel slope depend on the pixel's base value. Every
    * accumulator is dyadic-exact, so slope AND intercept hash-match the
    * closed-form oracle bit-for-bit. */
  def q261TemporalTrend(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val tStep = col("time_cf") / lit(1440.0)
    val kept = ds.data.filter(
      ((quadbin_tile_x(col("block")) + quadbin_tile_y(col("block")) +
        tStep.cast("long")) % 5) =!= 0)
    def branch(lo: Int, hi: Int, a: Double, b: Double): DataFrame =
      kept.filter(tStep >= lo && tStep <= hi)
        .select(col("block"), col("time_cf"),
          rq_translate(col("band_1"), ds.meta, "band_1", "float64",
            Double.NaN, a, b).as("v"))
    val stack = branch(0, 1, 1.0, 0.0)
      .unionByName(branch(2, 3, 2.0, -10.0))
      .unionByName(branch(4, 5, 3.0, 5.0))
    val k64 = graft.raquet.BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    graft.operators.Temporal.trend(stack, k64, "v", col("time_cf") / lit(1440.0))
      .select(col("block"),
        rq_decode(col("slope"), k64).as("s"),
        rq_decode(col("intercept"), k64).as("ic"))
      .select(col("block"), posexplode(arrays_zip(col("s"), col("ic"))))
      .select(col("block"), col("pos").cast("long").as("pos"),
        col("col.s").as("slope"), col("col.ic").as("icept"))
  }

  /** q262 — temporal linear gap fill ([[graft.operators.Temporal
    * .gapFill]]): the time fixture with deterministic per-pixel cloud
    * holes punched by [[graft.functions.GraftFunctions.rq_mask_range]]
    * (value-window masks per epoch: t=0 [400,410), t∈{2,3} [420,460),
    * t=5 [500,520)) — yielding single and double interior gaps (filled
    * by the straight line between the nearest valid observations),
    * leading gaps and trailing gaps (stay NULL — no extrapolation). The
    * oracle replays the masks and the fixed-order interpolation
    * expression per (pixel, timestep), bit-exact. */
  def q262TemporalGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val tStep = col("time_cf") / lit(1440.0)
    def branch(ts: Seq[Int], lo: Double, hi: Double): DataFrame =
      ds.data.filter(tStep.cast("int").isin(ts: _*))
        .select(col("block"), col("time_cf"),
          rq_mask_range(col("band_1"), ds.meta, "band_1", lo, hi).as("v"))
    val stack = branch(Seq(0), 400, 410)
      .unionByName(branch(Seq(1, 4), 0, 0))
      .unionByName(branch(Seq(2, 3), 420, 460))
      .unionByName(branch(Seq(5), 500, 520))
    val k64 = graft.raquet.BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    graft.operators.Temporal.gapFill(stack, k64, "v", tStep)
      .select(col("block"), col("t"), posexplode(rq_decode(col("v"), k64)))
      .select(col("block"), col("pos").cast("long").as("pos"), col("t"),
        when(isnan(col("col")), lit(null)).otherwise(col("col")).as("v"))
  }

  /** q263 — Theil–Sen + Mann–Kendall robust trend ([[graft.operators
    * .Temporal.robustTrend]]): the time fixture made NON-monotone (epoch
    * recodes (1,0)/(−1,900)/(2,−300) — pairwise signs now depend on the
    * pixel's base value), with per-tile dropped timesteps ((x+y+t)%7=0)
    * and per-pixel cloud holes (mask [480,500) on the middle epoch) so n
    * varies per pixel. The oracle enumerates the same i<j pairs, sorts
    * the same pairwise slopes, takes the same odd/even median, and
    * replays S and tau-a as exact integers. */
  def q263RobustTrend(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val tStep = col("time_cf") / lit(1440.0)
    val kept = ds.data.filter(
      ((quadbin_tile_x(col("block")) + quadbin_tile_y(col("block")) +
        tStep.cast("long")) % 7) =!= 0)
    val k64 = graft.raquet.BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    def branch(ts: Seq[Int], a: Double, b: Double, lo: Double,
        hi: Double): DataFrame =
      kept.filter(tStep.cast("int").isin(ts: _*))
        .select(col("block"), col("time_cf"),
          rq_mask_range(rq_translate(col("band_1"), ds.meta, "band_1",
            "float64", Double.NaN, a, b), k64, lo, hi).as("v"))
    val stack = branch(Seq(0, 1), 1, 0, 0, 0)
      .unionByName(branch(Seq(2, 3), -1, 900, 480, 500))
      .unionByName(branch(Seq(4, 5), 2, -300, 0, 0))
    def nn(c: org.apache.spark.sql.Column) =
      when(isnan(c), lit(null)).otherwise(c)
    graft.operators.Temporal.robustTrend(stack, k64, "v", tStep)
      .select(col("block"),
        rq_decode(col("slope"), k64).as("s"),
        rq_decode(col("mk_s"), k64).as("m"),
        rq_decode(col("tau"), k64).as("ta"))
      .select(col("block"), posexplode(arrays_zip(col("s"), col("m"), col("ta"))))
      .select(col("block"), col("pos").cast("long").as("pos"),
        nn(col("col.s")).as("slope"), nn(col("col.m")).as("mk_s"),
        nn(col("col.ta")).as("tau"))
  }

  /** q264 — STREAMING per-pixel OLS trend (§2.10 twin of q261): the same
    * reshaped stack (dropped steps + epoch recodes, all stateless
    * projections over the stream), the same partial-mergeable trend
    * aggregate accumulating in the state store across three
    * micro-batches, complete-mode output after the last batch ≡ the
    * batch q261 oracle verbatim. */
  def q264StreamTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = RaquetIO.read(spark, FixtureTime)
    val rows = ds.data.select(col("block"), col("time_cf"), col("band_1"))
      .as[(Long, Double, Array[Byte])].collect()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Array[Byte])]
    val tiles = input.toDF().toDF("block", "time_cf", "band_1")
    val tStep = col("time_cf") / lit(1440.0)
    val kept = tiles.filter(
      ((quadbin_tile_x(col("block")) + quadbin_tile_y(col("block")) +
        tStep.cast("long")) % 5) =!= 0)
    def branch(lo: Int, hi: Int, a: Double, b: Double): DataFrame =
      kept.filter(tStep >= lo && tStep <= hi)
        .select(col("block"), col("time_cf"),
          rq_translate(col("band_1"), ds.meta, "band_1", "float64",
            Double.NaN, a, b).as("v"))
    val stack = branch(0, 1, 1.0, 0.0)
      .unionByName(branch(2, 3, 2.0, -10.0))
      .unionByName(branch(4, 5, 3.0, 5.0))
    val k64 = graft.raquet.BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    val tr = graft.operators.Temporal.trend(stack, k64, "v",
      col("time_cf") / lit(1440.0))
    val q = tr.writeStream.format("memory").queryName("q264_trend")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table("q264_trend")
      .select(col("block"),
        rq_decode(col("slope"), k64).as("s"),
        rq_decode(col("intercept"), k64).as("ic"))
      .select(col("block"), posexplode(arrays_zip(col("s"), col("ic"))))
      .select(col("block"), col("pos").cast("long").as("pos"),
        col("col.s").as("slope"), col("col.ic").as("icept"))
  }

  /** Streaming twin of q154 — [[graft.operators.Temporal.composite]] is a
    * plain block-grouped aggregate, so it runs UNCHANGED on a stream: the
    * six timesteps arrive over three micro-batches, the composite
    * accumulates in the state store (one mergeable buffer per block —
    * bounded state), and complete-mode output after the last batch must
    * equal the batch result, hence the identical q154 oracle. */
  def q156StreamComposite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = RaquetIO.read(spark, FixtureTime)
    val rows = ds.data.select(col("block"), col("time_cf"), col("band_1"))
      .as[(Long, Double, Array[Byte])].collect()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Array[Byte])]
    val tiles = input.toDF().toDF("block", "time_cf", "band_1")
    val comp = graft.operators.Temporal.composite(tiles, ds.meta, "band_1",
      Seq("mean", "max", "count"))
    val q = comp.writeStream.format("memory").queryName("q156_composite")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val k = graft.operators.Focal.outKernel(ds.meta)
    spark.table("q156_composite")
      .select(col("block"),
        posexplode(arrays_zip(
          rq_decode(col("band_1_mean"), k),
          rq_decode(col("band_1_max"), k),
          rq_decode(col("band_1_count"), k))))
      .select(col("block"), col("pos").cast("long").as("pos"),
        col("col.0").as("v_mean"), col("col.1").as("v_max"),
        col("col.2").as("n_obs"))
  }

  /** Vector measures + the WKB bridge (GeoParquet interop): geometries
    * arrive as OGC WKB binary, cross `st_geom_from_wkb` into the WKT
    * surface, get measured (shoelace area with holes, ring perimeter,
    * area-weighted centroid), and round-trip back through `st_as_wkb`
    * byte-identically. Oracle: hand-derived closed-form measures. */
  def q134VectorMeasures(spark: SparkSession, dir: String): DataFrame = {
    val wkts = Seq(
      1L -> "POLYGON ((0 0, 8 0, 8 4, 0 4, 0 0))",
      2L -> "POLYGON ((0 0, 16 0, 16 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2))",
      3L -> "POLYGON ((0 0, 3 0, 0 4, 0 0))",
      4L -> "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((10 0, 11 0, 11 1, 10 1, 10 0)))",
      5L -> "POINT (2.5 -3.5)")
    val rows = wkts.map { case (id, w) =>
      (id, graft.geo.Wkb.write(graft.geo.Wkt.parse(w)))
    }
    import spark.implicits._
    rows.toDF("id", "wkb")
      .withColumn("wkt", st_geom_from_wkb(col("wkb")))
      .select(col("id"),
        round(st_area(col("wkt")), 6).as("area"),
        round(st_perimeter(col("wkt")), 6).as("perimeter"),
        round(st_centroid(col("wkt")).getField("x"), 6).as("cx"),
        round(st_centroid(col("wkt")).getField("y"), 6).as("cy"),
        (st_as_wkb(col("wkt")) === col("wkb")).as("roundtrip"))
  }

  /** GeoJSON bridge (RFC 7946): zones arriving as GeoJSON — bare
    * geometries, a Feature wrapper, a polygon with a hole — cross into the
    * WKT surface, get measured and point-tested (the hole probe must read
    * OUTSIDE), and round-trip through `st_as_geojson` to the same
    * canonical WKT. Oracle: hand-derived closed forms. */
  def q135Geojson(spark: SparkSession, dir: String): DataFrame = {
    val rows = Seq(
      (1L, """{"type":"Polygon","coordinates":[[[10,10],[30,10],[30,20],[10,20],[10,10]]]}""",
        15.0, 15.0, 5.0, 5.0),
      (2L, """{"type":"Feature","properties":{"name":"z"},"geometry":
              {"type":"Polygon","coordinates":[[[0,0],[12,0],[12,12],[0,12],[0,0]],
               [[4,4],[8,4],[8,8],[4,8],[4,4]]]}}""",
        2.0, 2.0, 6.0, 6.0),
      (3L, """{"type":"MultiPolygon","coordinates":[
               [[[0,0],[2,0],[2,2],[0,2],[0,0]]],
               [[[10,10],[14,10],[14,12],[10,12],[10,10]]]]}""",
        1.0, 1.0, 5.0, 5.0),
      (4L, """{"type":"Point","coordinates":[3.5,4.25]}""", 3.5, 4.25, 0.0, 0.0))
    import spark.implicits._
    rows.toDF("id", "geojson", "px1", "py1", "px2", "py2")
      .withColumn("wkt", st_geom_from_geojson(col("geojson")))
      .select(col("id"),
        round(st_area(col("wkt")), 6).as("area"),
        round(st_perimeter(col("wkt")), 6).as("perimeter"),
        round(st_centroid(col("wkt")).getField("x"), 6).as("cx"),
        round(st_centroid(col("wkt")).getField("y"), 6).as("cy"),
        st_contains(col("wkt"), col("px1"), col("py1")).as("inside1"),
        st_contains(col("wkt"), col("px2"), col("py2")).as("inside2"),
        (st_geom_from_geojson(st_as_geojson(col("wkt"))) === col("wkt")).as("roundtrip"))
  }

  /** M10 driver proof — compaction: the q133 upsert flow repeated (each
    * upsert appends fresh part files, fragmenting the layout), then
    * [[graft.raquet.Maintenance.compact]] rewrites into fewer sorted
    * range-partitioned files. Content must be IDENTICAL to q133's (shared
    * oracle); the file count must strictly shrink. */
  def q137Compact(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q137"
    graft.raquet.RaquetIO.deleteTree(tmp)
    val out = s"$tmp/ds"
    val ds = RaquetIO.read(spark, Fixture)
    RaquetIO.write(ds.data, ds.meta, out, maxRecordsPerFile = 16)
    val c3931 = Quadbin.tileToCell(39, 31, 6)
    val c3224 = Quadbin.tileToCell(32, 24, 6)
    val c3325 = Quadbin.tileToCell(33, 25, 6)
    val c4024 = Quadbin.tileToCell(40, 24, 6)
    val d0 = RaquetIO.read(spark, out).data
    graft.raquet.Maintenance.upsert(spark, out,
      d0.filter(col("block") === c3931).withColumn("block", lit(c3224))
        .unionByName(d0.filter(col("block") === c3325).withColumn("block", lit(c4024))))
    // fragment further: re-replace the same tile (content unchanged)
    val d1 = RaquetIO.read(spark, out).data
    graft.raquet.Maintenance.upsert(spark, out,
      d1.filter(col("block") === c3931).withColumn("block", lit(c3224)))
    val rep = graft.raquet.Maintenance.compact(spark, out, maxRecordsPerFile = 64)
    require(rep.filesAfter < rep.filesBefore,
      s"compaction must shrink the layout: $rep")
    require(rep.rows == 86, s"expected 86 data rows, got ${rep.rows}")
    val d2 = RaquetIO.read(spark, out)
    d2.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"),
        mm_u8_sum(rq_inflate(col("band_1"))).as("s1"))
      .withColumn("meta_num_blocks", lit(d2.meta.numBlocks))
  }

  /** Vector-tile publish (MVT 2.1): a zone table renders to per-tile MVT
    * blobs at z=2 — polyfill blocking, Sutherland–Hodgman clip per tile,
    * spec command-stream encoding — then decodes back to per-feature
    * vertex stats. Zone corners sit on 1/256 mercator fractions, so every
    * projected tile coordinate is an EXACT multiple of 64 (no rounding
    * ambiguity) and the oracle re-derives the clip arithmetic in closed
    * form. */
  def q138MvtTiles(spark: SparkSession, dir: String): DataFrame = {
    def lon(k: Int) = k / 256.0 * 360.0 - 180.0
    def lat(m: Int) = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * m / 256.0))))
    def rect(kw: Int, ke: Int, mn: Int, mx: Int) =
      s"POLYGON ((${lon(kw)} ${lat(mn)}, ${lon(ke)} ${lat(mn)}, " +
        s"${lon(ke)} ${lat(mx)}, ${lon(kw)} ${lat(mx)}, ${lon(kw)} ${lat(mn)}))"
    import spark.implicits._
    val zones = Seq(
      (1L, rect(70, 90, 80, 100)),           // interior of tile (1,1)
      (2L, rect(60, 130, 60, 130)),          // spans a 3×3 tile block
      (3L, s"POINT (${lon(201)} ${lat(77)})") // a point feature in (3,1)
    ).toDF("zone_id", "wkt")
    graft.sources.Mvt.tiles(spark, zones, zoom = 2)
      .as[(Long, Array[Byte])]
      .flatMap { case (block, bytes) =>
        graft.sources.Mvt.decodeTile(bytes).flatMap(_.features.map { f =>
          val vs = f.rings.flatMap(_.grouped(2).toSeq)
          val xs = vs.map(_(0)); val ys = vs.map(_(1))
          (block, f.attrs.head._2, xs.length.toLong, xs.min, xs.max,
            ys.min, ys.max, xs.sum, ys.sum)
        })
      }
      .toDF("block", "zid", "n_vertices", "min_px", "max_px",
        "min_py", "max_py", "sum_px", "sum_py")
  }

  /** st_simplify (Douglas–Peucker) driver proof: collinear edge
    * subdivisions vanish at any tolerance (id 1, 3 — incl. a hole ring);
    * a 1-unit bump survives tol 0.5 and drops at tol 2 with the area
    * moving 36 → 32 (id 2). Vertex counts and measures are hand-derived.
    * The thin-then-measure chain runs entirely through the WKT surface. */
  def q139Simplify(spark: SparkSession, dir: String): DataFrame = {
    def subdivRect(x0: Int, y0: Int, x1: Int, y1: Int, step: Int): String = {
      val pts =
        (x0 until x1 by step).map(x => s"$x $y0") ++
        (y0 until y1 by step).map(y => s"$x1 $y") ++
        (x1 until x0 by -step).map(x => s"$x $y1") ++
        (y1 until y0 by -step).map(y => s"$x0 $y")
      (pts :+ s"$x0 $y0").mkString("POLYGON ((", ", ", "))")
    }
    import spark.implicits._
    val rows = Seq(
      (1L, subdivRect(0, 0, 8, 4, 1)), // 24 collinear-subdivided vertices
      (2L, "POLYGON ((0 0, 8 0, 8 4, 4 5, 0 4, 0 0))"), // 1-unit roof bump
      (3L, subdivRect(0, 0, 16, 8, 2).replace("))", "), (" +
        (Seq("2 2", "3 2", "4 2", "5 2", "6 2", "6 3", "6 4", "6 5", "6 6",
          "5 6", "4 6", "3 6", "2 6", "2 5", "2 4", "2 3", "2 2").mkString(", ")) + "))")))
      .toDF("id", "wkt")
    rows.select(col("id"),
      st_npoints(col("wkt")).as("n_pts"),
      st_npoints(st_simplify(col("wkt"), 0.5)).as("n_tol_small"),
      st_npoints(st_simplify(col("wkt"), 2.0)).as("n_tol_big"),
      round(st_area(st_simplify(col("wkt"), 0.5)), 6).as("area_small"),
      round(st_area(st_simplify(col("wkt"), 2.0)), 6).as("area_big"),
      round(st_perimeter(st_simplify(col("wkt"), 2.0)), 6).as("perim_big"))
  }

  /** A11: GDAL-style value histogram (16-wide buckets) over decoded band_1
    * pixels at native zoom. explode→groupBy hash-aggregates map-side, so the
    * shuffle carries one row per bucket per task, not per pixel. */
  def q35Histogram(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(explode(rq_decode(col("band_1"), ds.meta, "band_1")).as("v"))
      .filter(col("v") =!= 255.0) // nodata
      .groupBy(floor(col("v") / 16).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("vsum"))
  }

  /** J2: raster⋈raster alignment join on block — two reads of the dataset
    * joined by tile id (the multi-file band-math shape), per-pixel
    * cross-source difference reduced per tile. Same-zoom equi-join: AQE
    * picks broadcast/SMJ; at scale both sides are Morton-sorted parquet so
    * the sort-merge path is shuffle-light. The metric stays dyadic-rational
    * (Σ of exact values) so the comparison is order-independent-exact. */
  def q36RasterJoin(spark: SparkSession, dir: String): DataFrame = {
    val a = RaquetIO.read(spark, Fixture)
    val b = RaquetIO.read(spark, Fixture)
    val left = a.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"), col("band_2").as("ba"))
    val right = b.data.select(col("block"), col("band_1").as("bb"))
    left.join(right, "block")
      .withColumn("pa", rq_decode(col("ba"), a.meta, "band_2"))
      .withColumn("pb", rq_decode(col("bb"), b.meta, "band_1"))
      .select(col("block"),
        expr("""aggregate(zip_with(pa, pb, (x, y) -> IF(y = 255D, 0D, 1D)),
                CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").cast("long").as("n_valid"),
        expr("""aggregate(zip_with(pa, pb, (x, y) ->
                  IF(y = 255D, CAST(0 AS DOUBLE), (x * 0.5D + 16D) - y)),
                CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("diff_sum"))
  }

  /** Time-series variant of the same grid (spec raquet.md:67-87). */
  val FixtureTime = "/root/repo/src/test/resources/raquet/gradient16_time.parquet"

  /** A8 (raster flavor): time-bucket aggregation over (block, time_cf) rows —
    * decode per-row pixel sums, bucket by 2-day CF windows, with time_ts
    * round-tripping through the CF kernel. */
  def q38TsBucket(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    ds.data
      .select(expr("CAST(time_cf / 1440 AS BIGINT) DIV 2").as("bucket"),
        col("time_ts"),
        rq_summary_stats(col("band_1"), ds.meta, "band_1").as("s"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("s.sum")).as("vsum"),
        min(col("time_ts")).as("t_min"), max(col("time_ts")).as("t_max"))
  }

  /** J3: as-of join — probe times resolve to the latest timestep at or
    * before each probe, per block (window top-1, shuffle = one row per
    * (block, probe)). */
  def q39AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val blocks = Seq((32L, 24L), (35L, 27L), (39L, 31L), (33L, 30L))
      .map { case (x, y) => graft.quadbin.Quadbin.tileToCell(x, y, 6) }
    val probes = spark.range(5).toDF("pid")
      .selectExpr("pid", "CAST(700 + pid * 1650 AS DOUBLE) AS p")
    val joined = ds.data.filter(col("block").isin(blocks: _*))
      .select(col("block"), col("time_cf"),
        rq_summary_stats(col("band_1"), ds.meta, "band_1").getField("sum").as("vsum"))
      .join(probes, col("time_cf") <= col("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block"), col("pid")).orderBy(col("time_cf").desc)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("block"), col("pid"), col("p"), col("time_cf").as("t_used"), col("vsum"))
  }

  /** J3 scale twin of [[q39AsofJoin]] (same oracle): union + window instead
    * of a theta join. Probe rows are unioned with the timestep rows and one
    * per-block window carries the latest timestep at-or-before each row
    * forward, so the only shuffle is the hash partition on block — no
    * BroadcastNestedLoopJoin anywhere (checked in its PlanDump plan). Rows crossing the
    * shuffle = timesteps + probes, which is the shape that survives 100×;
    * q39's theta join is the small-probe-set interactive path. Ordering
    * (t asc, is_probe asc) puts a timestep before a probe at equal t, which
    * reproduces q39's `time_cf <= p` inclusive semantics. */
  def q46AsofJoinScale(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, FixtureTime)
    val blocks = Seq((32L, 24L), (35L, 27L), (39L, 31L), (33L, 30L))
      .map { case (x, y) => Quadbin.tileToCell(x, y, 6) }
    val events = ds.data.filter(col("block").isin(blocks: _*))
      .select(col("block"), col("time_cf").as("t"),
        rq_summary_stats(col("band_1"), ds.meta, "band_1").getField("sum").as("v"),
        lit(null).cast("long").as("pid"), lit(null).cast("double").as("p"),
        lit(0).as("is_probe"))
    // At scale the probe side arrives keyed by block already; here the
    // 4×5 probe grid is built driver-side (no join needed to key it).
    val probeRows = blocks.flatMap(b => (0L until 5L).map(pid =>
        (b, 700.0 + pid * 1650, null.asInstanceOf[java.lang.Double], pid,
          700.0 + pid * 1650, 1)))
      .toDF("block", "t", "v", "pid", "p", "is_probe")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("t").asc, col("is_probe").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events.unionByName(probeRows)
      .withColumn("t_used",
        last(when(col("is_probe") === 0, col("t")), ignoreNulls = true).over(w))
      .withColumn("vsum",
        last(when(col("is_probe") === 0, col("v")), ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1 && col("t_used").isNotNull)
      .select(col("block"), col("pid"), col("p"), col("t_used"), col("vsum"))
  }

  /** §2.5 over time series: per-(block) temporal window — lag and a
    * 3-step rolling SUM (sums stay dyadic-exact) ordered by time_cf. */
  def q40TsWindow(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("time_cf"))
    ds.data
      .select(col("block"), col("time_cf"),
        rq_summary_stats(col("band_1"), ds.meta, "band_1").getField("sum").as("vsum"))
      .withColumn("prev_sum", lag(col("vsum"), 1).over(w))
      .withColumn("roll3_sum", sum(col("vsum")).over(w.rowsBetween(-2, 0)))
  }

  /** The SQL-text path: everything through `spark.sql` with the function
    * family the session's `GraftExtensions` inject (metadata bound as a JSON
    * literal, exactly how an external SQL user would call it). Values
    * re-verify the band_2 pyramid identity at zoom 4. */
  def q43SqlSurface(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data.createOrReplaceTempView("rq_gradient16")
    val metaJson = graft.raquet.RaquetMetadata.toJson(ds.meta)
    spark.sql(
      s"""SELECT block, s.count AS n_px, s.min AS vmin, s.sum AS vsum
          FROM (SELECT block,
                  rq_summary_stats(band_2, '$metaJson', 'band_2') AS s
                FROM rq_gradient16
                WHERE quadbin_zoom(block) = 4) t""")
  }

  /** §2.9 generator shape: st_polyfill → explode → broadcast equi-join with
    * the tiles (the reference's __RAQUET_REGION_BLOCKS + FLATTEN pattern).
    * At scale the exploded cell list is the small build side. */
  def q44PolyfillJoin(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val cells = spark.range(1)
      .select(explode(st_polyfill(RegionWkt, lit(6))).as("cell"))
    ds.data.join(broadcast(cells), col("block") === col("cell"), "inner")
      .select(col("block"), col("band_1_count"), col("band_1_sum"))
  }

  /** M4 driver proof: spatially partition the fixture at zoom 4 (4 ancestor
    * cells × 16 native tiles), read the partitioned layout back, and verify
    * per-partition tile counts, stats sums, block ranges, AND the
    * per-partition metadata row's num_blocks — all against the oracle's
    * closed-form recomputation from the original fixture (ancestor id is
    * pure bit math). The write path is one shuffle
    * (repartition(part) + sortWithinPartitions) so each file is
    * Morton-sorted; pruning/sortedness are EXPLAIN-asserted in
    * MaintenanceSpec. */
  def q45PartitionReadback(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_q45_partition"
    graft.raquet.Maintenance.partition(spark, Fixture, out, partZoom = 4)
    val back = spark.read.parquet(out)
    val metaRows = back.filter(col("block") === 0L)
      .select(col("part"),
        regexp_extract(col("metadata"), "num_blocks\":([0-9]+)", 1)
          .cast("long").as("meta_num_blocks"))
    back.filter(col("block") =!= 0L)
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(col("band_1_count")).cast("long").as("valid_px"),
        min(col("block")).as("min_block"), max(col("block")).as("max_block"))
      .join(metaRows, "part")
  }

  /** M3 driver proof: split the fixture into one standalone raquet dataset
    * per zoom, then read each back and verify it is self-consistent (tile
    * count, zoom range, per-zoom metadata num_blocks, band_2 sums) against
    * the oracle's per-zoom recomputation from the original fixture. */
  def q47SplitZoomReadback(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_q47_splitzoom"
    graft.raquet.Maintenance.splitZoom(spark, Fixture, out)
    val src = RaquetIO.read(spark, Fixture)
    (src.meta.minZoom to src.meta.maxZoom).map { z =>
      val ds = RaquetIO.read(spark, s"$out/z=$z")
      ds.data.agg(
        count(lit(1)).as("n_tiles"),
        min(quadbin_zoom(col("block"))).cast("long").as("z_min"),
        max(quadbin_zoom(col("block"))).cast("long").as("z_max"),
        sum(col("band_2_sum")).as("b2_sum"))
        .select(lit(z.toLong).as("zoom"), col("n_tiles"), col("z_min"),
          col("z_max"),
          lit(ds.meta.minZoom.toLong).as("meta_min_zoom"),
          lit(ds.meta.maxZoom.toLong).as("meta_max_zoom"),
          lit(ds.meta.numBlocks).cast("long").as("meta_num_blocks"),
          col("b2_sum"))
    }.reduce(_ unionByName _)
  }

  /** M8 driver proof: size-split write (`maxRecordsPerFile`) read back.
    * The writer Morton-sorts then rolls to a new file every N rows, so the
    * committed layout must (a) actually split, (b) respect the cap in every
    * file, (c) cover disjoint block ranges per file (the property that makes
    * multi-file min/max pruning work, spec `raquet.md:160-175`), and
    * (d) preserve content exactly. (a)-(c) reduce to literal booleans the
    * oracle emits as constants; (d) is recomputed from the fixture. */
  def q57SizeSplitReadback(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_q57_sizesplit"
    val src = RaquetIO.read(spark, Fixture)
    RaquetIO.write(src.data, src.meta, out, maxRecordsPerFile = 16)
    val perFile = spark.read.parquet(out)
      .filter(col("block") =!= 0L)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"), min(col("block")).as("f_min"),
        max(col("block")).as("f_max"), sum(col("band_1_count")).as("px"))
    // running max over ALL preceding files, not lag(1): a file may overlap a
    // non-adjacent predecessor (e.g. [0,100],[30,40],[50,60] sorted by min)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("f_min"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perFile
      .withColumn("prev_max", max(col("f_max")).over(w))
      .agg(
        sum(col("rows")).as("n_tiles"),
        sum(col("px")).cast("long").as("valid_px"),
        min(col("f_min")).as("min_block"), max(col("f_max")).as("max_block"),
        (count(lit(1)) >= 2).as("split_happened"),
        (max(col("rows")) <= 16).as("all_within_cap"),
        (count(when(col("prev_max") >= col("f_min"), 1)) === 0).as("files_disjoint"))
  }

  /** S9 footer contract (spec raquet.md:685-695): write the fixture through
    * the standard writer, then prove the parquet FOOTER carries the
    * `raquet:version` key-value pair and per-row-group SortingColumn the
    * reference writer emits (`raster2raquet.py:1662-1665`, `2269-2274`;
    * its `tests/test_cli.py:557-561` asserts the same). The oracle is
    * DuckDB — a real reference-ecosystem consumer — reading the SAME file:
    * version via parquet_kv_metadata, row-group census via
    * parquet_metadata, rows via read_parquet. Sorting declarations are
    * invisible to DuckDB SQL, so that bit is asserted by our independent
    * thrift re-read here and emitted as a literal on the oracle side. */
  def q144FooterMeta(spark: SparkSession, dir: String): DataFrame = {
    val out = Q144Out
    val src = RaquetIO.read(spark, Fixture)
    RaquetIO.writeSingleFile(src.data, src.meta, out)
    val (version, nRgs, nSorted) =
      graft.raquet.ParquetFooter.inspect(java.nio.file.Paths.get(out))
    val nRows = spark.read.parquet(out).count()
    import spark.implicits._
    Seq((version.getOrElse("missing"), nRows, nRgs.toLong, nSorted == nRgs))
      .toDF("version", "n_rows", "n_row_groups", "sorting_declared")
  }

  val Q144Out: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q144_footer.parquet"

  /** M1 inspect as a driver query: the one-row dataset summary
    * (`cli.py` `inspect` semantics) over the fixture. The oracle re-derives
    * every column from the raw parquet — metadata JSON via regexp, zoom
    * census via block bit-math — so the metadata parse path is verified
    * end-to-end. */
  def q50Inspect(spark: SparkSession, dir: String): DataFrame =
    graft.raquet.Maintenance.inspect(spark, Fixture)

  /** Interleaved (BIP) layout: gunzip the whole-tile payload, de-interleave
    * band_2 (F9), decode, per-tile stats — the `tci_interleaved_gzip`-shaped
    * read path, spec `raquet.md:49-57`. */
  def q37Interleaved(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureBip)
    ds.data
      .select(col("block"), rq_summary_stats(ds.band("band_2"), ds.meta, "band_2").as("s"))
      .select(col("block"), col("s.count").as("n_px"),
        col("s.min").as("vmin"), col("s.max").as("vmax"), col("s.sum").as("vsum"))
  }

  /** Write the deterministic 512×512 uint8 convert-oracle TIFF: one band,
    * v(gx,gy) = (7·gx+13·gy) mod 256, nodata 255, mercator-aligned to the
    * world corner at a resolution that makes auto zoom exactly 1 (2×2 tiles
    * of 256 px). Every pixel is a closed form the DuckDB oracle recomputes. */
  private def writeConvertOracleTiff(path: String): Unit =
    writeSynthTiff(path, (gx, gy) => (7 * gx + 13 * gy) % 256)

  /** 512×512 uint8 world-mercator TIFF with per-pixel formula `f` and
    * nodata 255 — the q60 synthetic generalized to arbitrary closed-form
    * patterns (q106 needs two differently-patterned sources). */
  private def writeSynthTiff(path: String, f: (Int, Int) => Int): Unit = {
    val w = 512; val h = 512; val rowsPerStrip = 64
    val strips = (0 until h by rowsPerStrip).iterator.map { y0 =>
      val buf = new Array[Byte](rowsPerStrip * w)
      var k = 0
      var gy = y0
      while (gy < y0 + rowsPerStrip) {
        var gx = 0
        while (gx < w) { buf(k) = f(gx, gy).toByte; k += 1; gx += 1 }
        gy += 1
      }
      buf
    }
    graft.raquet.TiffWriter.writeStrips(path, w, h, "uint8", 1,
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = Some(255.0), rowsPerStrip = rowsPerStrip, strips = strips)
  }

  /** Per-block readback of a convert output: the spec's tile-stats columns
    * AND a fresh blob decode ([[rq_summary_stats]]) side by side, so both
    * the stats writer and the pixel payload are hash-verified. */
  private def convertReadback(spark: SparkSession, out: String): DataFrame = {
    val ds = RaquetIO.read(spark, out)
    ds.data
      .select(col("block"), col("band_1_count").as("n_px"),
        col("band_1_min").cast("long").as("px_min"),
        col("band_1_max").cast("long").as("px_max"),
        col("band_1_sum").cast("long").as("px_sum"),
        rq_summary_stats(col("band_1"), ds.meta, "band_1").as("s"))
      .select(col("block"), col("n_px"), col("px_min"), col("px_max"),
        col("px_sum"), col("s.count").as("dec_n"),
        col("s.sum").cast("long").as("dec_sum"))
  }

  /** S6+M7 driver proof: GeoTIFF → raquet convert end-to-end. A synthetic
    * closed-form TIFF is converted (distributed warp, per-task windowed
    * source reads, tile-stats columns) and read back; the oracle recomputes
    * every block id, count, min/max, and sum from the pixel formula — the
    * whole ingest path is verified, not just spot pixels. */
  def q60ConvertReadback(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q60"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val out = s"$tmp/synth.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    convertReadback(spark, out)
  }

  /** S6 driver proof for the COG interior layout: the SAME closed-form
    * raster as q60 but written as a TILED BigTIFF (tags 322-325, 128×128
    * deflate tiles, version 43) — the layout real-world COGs ship
    * (`gdal_translate -co TILED=YES`; reference converts them via GDAL,
    * `raster2raquet.py:950-963`). Identical oracle to q60: the chunk
    * layout must be invisible to the convert. */
  def q85TiledBigtiff(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q85"
    val tif = s"$tmp/synth_tiled.tif"
    new java.io.File(tmp).mkdirs()
    val w = 512; val h = 512
    val band = Array.tabulate(w * h)(p =>
      ((7 * (p % w) + 13 * (p / w)) % 256).toDouble)
    graft.raquet.TiffWriter.writeTiled(tif, w, h, "uint8", Array(band),
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = Some(255.0), tileW = 128, tileL = 128, compression = 8,
      forceBig = true)
    val out = s"$tmp/synth_tiled.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    convertReadback(spark, out)
  }

  /** S6 driver proof for two more real-world TIFF layout axes at once:
    * PackBits compression (32773 — the classic scanned-DEM codec) and
    * band-separate planar configuration 2 (`gdal_translate -co
    * INTERLEAVE=BAND`), on the q60 closed-form grid as a tiled BigTIFF so
    * the direct reader owns the file (no ImageIO fallback). Identical
    * oracle to q60: codec and interleave must be invisible to the convert.
    * Multi-band plane separation is differentially proven in
    * `TiffLayoutSpec`; this query pins the end-to-end ingest. */
  def q91PackbitsPlanar(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q91"
    val tif = s"$tmp/synth_pb.tif"
    new java.io.File(tmp).mkdirs()
    val w = 512; val h = 512
    val band = Array.tabulate(w * h)(p =>
      ((7 * (p % w) + 13 * (p / w)) % 256).toDouble)
    graft.raquet.TiffWriter.writeTiled(tif, w, h, "uint8", Array(band),
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = Some(255.0), tileW = 128, tileL = 128, compression = 32773,
      forceBig = true, planar = 2)
    val out = s"$tmp/synth_pb.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    convertReadback(spark, out)
  }

  /** S6 driver proof for the compressed-float-DEM layout: float32 samples,
    * deflate, floating-point predictor 3 (TIFF TechNote 3 — what
    * `gdal_translate -co COMPRESS=DEFLATE -co PREDICTOR=3` emits for
    * elevation COGs), tiled BigTIFF so the direct reader owns the file.
    * The q60 grid values are integers, so storing them as float32 changes
    * no stat and the q60 oracle applies unchanged: the predictor must be
    * invisible to the convert. Byte-level decode is differentially proven
    * in `TiffLayoutSpec`; this query pins the end-to-end ingest. */
  def q92FloatPredictor(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q92"
    val tif = s"$tmp/synth_fp.tif"
    new java.io.File(tmp).mkdirs()
    val w = 512; val h = 512
    val band = Array.tabulate(w * h)(p =>
      ((7 * (p % w) + 13 * (p / w)) % 256).toDouble)
    graft.raquet.TiffWriter.writeTiled(tif, w, h, "float32", Array(band),
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = Some(255.0), tileW = 128, tileL = 128, compression = 8,
      forceBig = true, predictor = 3)
    val out = s"$tmp/synth_fp.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    convertReadback(spark, out)
  }

  /** S6 driver proof: JPEG-in-TIFF (compression 7, YCbCr, shared JPEGTables
    * tag — the public-ortho-imagery layout) ingests through the direct
    * tiled reader: per-chunk abbreviated streams are spliced with the
    * shared tables and decoded by the JDK JPEG path
    * ([[graft.raquet.GeoTiff.jpegDecompress]]). The committed fixture is a
    * tiled BigTIFF on the q60 grid; every block's per-band stats AND a
    * fresh band_2 blob decode must match the independent whole-stream
    * decode pinned in the golden parquet. */
  def q86JpegTiff(spark: SparkSession, dir: String): DataFrame = {
    val tif = "/root/repo/src/test/resources/tiff/jpeg_tiled.tif"
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q86"
    new java.io.File(tmp).mkdirs()
    val out = s"$tmp/jpeg_tiled.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    val ds = RaquetIO.read(spark, out)
    (1 to 3).map { b =>
      ds.data.select(col("block"), lit(b).as("band"),
        col(s"band_${b}_count").as("n_px"),
        col(s"band_${b}_min").cast("long").as("px_min"),
        col(s"band_${b}_max").cast("long").as("px_max"),
        col(s"band_${b}_sum").cast("long").as("px_sum"),
        rq_summary_stats(ds.band(s"band_$b"), ds.meta, s"band_$b").as("s"))
        .select(col("block"), col("band"), col("n_px"), col("px_min"),
          col("px_max"), col("px_sum"), col("s.sum").cast("long").as("dec_sum"))
    }.reduce(_ unionByName _)
  }

  /** S10 driver proof: raquet → GeoTIFF export → re-convert round-trip.
    * The aligned grid makes export∘convert the identity on pixels, so the
    * re-converted table must match the SAME closed-form oracle as q60 —
    * any drift in the streamed strip writer, the nodata tag, or the mosaic
    * layout breaks the hash. */
  def q61ExportReadback(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q61"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val rq1 = s"$tmp/first.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, rq1,
      tileStats = true, overviews = "none")
    val tif2 = s"$tmp/exported.tif"
    graft.raquet.GeoTiff.export(spark, rq1, tif2)
    val rq2 = s"$tmp/second.parquet"
    graft.raquet.GeoTiff.convert(spark, tif2, rq2,
      tileStats = true, overviews = "none")
    convertReadback(spark, rq2)
  }

  /** A5 driver proof: dataset-level band statistics. Convert folds exact
    * per-tile partials into the metadata's `STATISTICS_*` keys
    * (`create_metadata`, `raster2raquet.py:1755-1876`; spec
    * `raquet.md:358-366`); this re-reads them from the WRITTEN file (JSON
    * round-trip included) and the oracle recomputes all four moments
    * closed-form over every source pixel. All sums are integer-valued
    * doubles below 2^53, so mean/stddev are bit-deterministic on both
    * engines with the same explicit formula. */
  def q75DatasetStats(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q75"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val out = s"$tmp/synth.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    val meta = RaquetIO.readMetadata(spark, out)
    val (mn, mx, mean, sd) = meta.bands.head.stats.get
    import spark.implicits._
    Seq((meta.numBlocks, meta.maxZoom, mn, mx, mean, sd))
      .toDF("num_blocks", "max_zoom", "stat_min", "stat_max",
        "stat_mean", "stat_stddev")
  }

  /** A4 driver proof: stats scale-up. Each coarse pyramid level's merged
    * stats are scaled to native zoom with [[graft.raquet.PixelCodec.scaleStats]]
    * (count/sum ×4^Δz, min/max/mean zoom-invariant — reference
    * `RasterStats.scale_by`, `raster2raquet.py:188-199`); the oracle
    * re-derives the same scaling in SQL from the stats columns. The ×4^Δz
    * factors are exact powers of two, so every product is bit-deterministic. */
  def q76StatsScale(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val maxZ = ds.meta.maxZoom
    val perZoom = ds.data
      .groupBy(quadbin_zoom(col("block")).cast("long").as("zoom"))
      .agg(sum(col("band_1_count")).as("n"), min(col("band_1_min")).as("mn"),
        max(col("band_1_max")).as("mx"), sum(col("band_1_sum")).as("sm"))
      .collect()
    import spark.implicits._
    perZoom.toSeq.map { r =>
      val zoom = r.getLong(0)
      val s = graft.raquet.PixelCodec.scaleStats(
        Array(r.getLong(1).toDouble, r.getDouble(2), r.getDouble(3),
          r.getDouble(4), 0.0), (maxZ - zoom).toInt)
      (zoom, s(0), s(1), s(2), s(3), graft.raquet.PixelCodec.statsMean(s))
    }.toDF("zoom", "scaled_count", "scaled_min", "scaled_max", "scaled_sum",
      "scaled_mean")
  }

  /** M6 driver proof: COG overview passthrough. The synthetic raster is
    * converted (computed pyramid), exported WITH overview IFDs, then
    * re-converted twice from the exported COG — once warping each pyramid
    * level from the coarsest usable overview IFD (`cogOverviews = true`,
    * GDAL's warp-time overview selection) and once forcing the computed
    * pyramid (`cogOverviews = false`). Per zoom: tile counts, the number of
    * blocks whose DECODED pixels and stats columns agree between the two
    * paths (must equal the tile count), and the native-level pixel sum
    * against the closed form. */
  def q77CogPassthrough(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q77"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val rq0 = s"$tmp/first.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, rq0,
      tileStats = true, overviews = "auto")
    val cog = s"$tmp/cog.tif"
    graft.raquet.GeoTiff.export(spark, rq0, cog, overviews = true)
    val rqPass = s"$tmp/pass.parquet"
    graft.raquet.GeoTiff.convert(spark, cog, rqPass,
      tileStats = true, overviews = "auto", cogOverviews = true)
    val rqComp = s"$tmp/comp.parquet"
    graft.raquet.GeoTiff.convert(spark, cog, rqComp,
      tileStats = true, overviews = "auto", cogOverviews = false)
    val ds = RaquetIO.read(spark, rqPass)
    val maxZ = ds.meta.maxZoom
    val p = ds.data.select(col("block"),
      rq_decode(col("band_1"), ds.meta, "band_1").as("ppx"),
      col("band_1_count").as("pn"), col("band_1_sum").as("ps"))
    val cds = RaquetIO.read(spark, rqComp)
    val c = cds.data.select(col("block"),
      rq_decode(col("band_1"), cds.meta, "band_1").as("cpx"),
      col("band_1_count").as("cn"), col("band_1_sum").as("cs"))
    p.join(c, "block")
      .groupBy(quadbin_zoom(col("block")).cast("long").as("zoom"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("ppx") === col("cpx") && col("pn") === col("cn") &&
          col("ps") === col("cs"), 1L).otherwise(0L)).as("n_equal"),
        sum(col("ps")).cast("long").as("px_sum"))
      .select(col("zoom"), col("n_tiles"), col("n_equal"),
        when(col("zoom") === maxZ, col("px_sum")).as("px_sum"))
  }

  /** Band-histogram + valid-percent driver proof: convert emits the
    * GDAL-style uint8 histogram (spec `raquet.md:367-372`: min −0.5, max
    * 255.5, 256 buckets = exact per-DN counts) and
    * `STATISTICS_VALID_PERCENT` (`raster2raquet.py:202,1750`) into the band
    * metadata; this re-reads them from the WRITTEN file and the oracle
    * recounts every DN from the pixel formula. */
  def q78HistogramMeta(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q78"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val out = s"$tmp/synth.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out,
      tileStats = true, overviews = "none")
    val b = RaquetIO.readMetadata(spark, out).bands.head
    val h = b.histogram.get
    require(h.min == -0.5 && h.max == 255.5 && h.buckets == 256,
      s"unexpected histogram shape: [${h.min}, ${h.max}] x ${h.buckets}")
    val vp = b.validPercent.get
    import spark.implicits._
    h.counts.zipWithIndex.collect { case (n, i) if n > 0 =>
      (i.toLong, n, vp)
    }.toDF("bucket", "n_px", "valid_pct")
  }

  /** S6 (NetCDF) driver proof: classic-NetCDF time-series ingest end to
    * end. A synthetic CDF-1 file (record `time` dimension with CF units,
    * lat/lon coordinate variables, float32 `v(time, lat, lon)` with
    * `_FillValue`) is converted — each timestep exploding into its own
    * (`block`, `time_cf`) row with derived `time_ts`, the reference's
    * row-explosion semantics (`raster2raquet.py:2107-2125`) — and read
    * back per row: stats columns AND a fresh decode.
    *
    * Oracle safety: values depend only on the source COLUMN PAIR
    * (`floor(gx/2)`), so the z0 overview's half-resolution sampling (which
    * lands exactly on column boundaries, where float noise could flip
    * `floor`) cannot change any value; latitude enters only through the
    * valid-row count, which the oracle recomputes with the same
    * gudermannian closed form as q22. */
  def q79NetcdfIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q79"
    new java.io.File(tmp).mkdirs()
    val nc = s"$tmp/synth.nc"
    // 512 x 240 world grid on exact dyadic spacing (360/512 = 0.703125),
    // lat edges +-84.375 (inside the mercator clip), 3 six-hourly steps
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.NetCdfWriter.write(nc, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      })
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, nc, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (netCDF-4) driver proof: the q79 world grid written as an HDF5
    * container (chunked 64×128, shuffle+deflate — the `nc_def_var_deflate`
    * layout) and converted through the SAME `NetCdf.convert` entry point,
    * which dispatches on the container magic. Identical oracle to q79: the
    * container format must not change one value. Chunk dims deliberately
    * misalign with the 256-px tile windows so every task stitches multiple
    * chunks. */
  def q88Nc4Ingest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q88"
    new java.io.File(tmp).mkdirs()
    val nc4 = s"$tmp/synth.nc4"
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.Hdf5Writer.write(nc4, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      }, chunkY = 64, chunkX = 128, filters = Seq("shuffle", "deflate"))
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, nc4, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (CDF-5) driver proof: the q79 grid as 64-bit classic NetCDF —
    * every NON_NEG header field widens to int64; values must be
    * untouched. Same oracle as q79. */
  def q89Cdf5Ingest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q89"
    new java.io.File(tmp).mkdirs()
    val nc = s"$tmp/synth.nc"
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.NetCdfWriter.write(nc, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      }, version = 5)
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, nc, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (Zarr) driver proof: the q79 grid as a Zarr v2 store — blosc
    * (lz4 + byte-shuffle, the numcodecs default) data chunks, zlib
    * coordinates, consolidated `.zmetadata` — converted through the SAME
    * `NetCdf.convert` entry point, which dispatches on the store layout.
    * Identical oracle to q79/q88/q89: the fourth container format for the
    * same grid must not change one value. Chunk dims (64×128) deliberately
    * misalign with the 256-px tile windows so every task stitches multiple
    * chunk objects. */
  /** S6 (Zarr v2, numcodecs `delta` array filter) driver proof: the q142
    * store with differenced chunks — identical oracle; the filter must
    * reconstruct every value exactly (integer-valued float32, so the
    * running sum is lossless). */
  def q167ZarrDelta(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q167"
    val zarrDir = s"$tmp/synth_delta.zarr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zarrDir))
    new java.io.File(tmp).mkdirs()
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.ZarrWriter.write(zarrDir, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      }, chunkY = 64, chunkX = 128, dataComp = "blosc", coordComp = "zlib",
      dataFilter = "delta")
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, zarrDir, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  def q142ZarrIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q142"
    val zarrDir = s"$tmp/synth.zarr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zarrDir))
    new java.io.File(tmp).mkdirs()
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.ZarrWriter.write(zarrDir, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      }, chunkY = 64, chunkX = 128, dataComp = "blosc", coordComp = "zlib")
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, zarrDir, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (Zarr v3) driver proof: the q79 grid as a Zarr v3 store —
    * `zarr.json` metadata with zarr-python's inline consolidated
    * metadata, `bytes`+`blosc` codec chain, `c/`-prefixed chunk keys.
    * Fifth container for the same grid, same oracle. */
  /** S6 (Zarr v3 `sharding_indexed`) driver proof: the q143 store with
    * the data array written as one shard per timestep (60×128 inner
    * chunks, CRC-32C'd index at the end) — identical oracle; the shard
    * container must not change one value. */
  def q166ZarrSharded(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q166"
    val zarrDir = s"$tmp/synth_shard.zarr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zarrDir))
    new java.io.File(tmp).mkdirs()
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.ZarrWriter.writeV3(zarrDir, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      }, chunkY = 60, chunkX = 128, dataComp = "blosc", coordComp = "gzip",
      shard = true)
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, zarrDir, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  def q143ZarrV3Ingest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q143"
    val zarrDir = s"$tmp/synth_v3.zarr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zarrDir))
    new java.io.File(tmp).mkdirs()
    val lats = Array.tabulate(240)(j => 84.375 - 0.703125 * (j + 0.5))
    val lons = Array.tabulate(512)(i => -180.0 + 0.703125 * (i + 0.5))
    graft.raquet.ZarrWriter.writeV3(zarrDir, lats, lons, Array(0.0, 6.0, 12.0),
      "hours since 2000-01-01 00:00:00", 255f,
      (t, _, i) => {
        val p = i >> 1
        if (p % 27 == 0) 255f else ((3 * p + 7 * t) % 251).toFloat
      }, chunkY = 64, chunkX = 128, dataComp = "blosc", coordComp = "gzip")
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, zarrDir, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** Shared body of the GRIB2 ingest proofs: the q79 grid (240×512 cells
    * of 45/64°, 3 six-hourly timesteps) written as one GRIB2 message per
    * timestep — coordinates exact via the basic-angle rational 1/128°
    * (45/64 = 90/128), missing points (p%27==0) as a section-6 bitmap —
    * then converted through the shared NetCDF/Zarr/GRIB pipeline. Sixth
    * container for the same grid, same oracle. */
  private def gribIngest(spark: SparkSession, packing: String,
      tag: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_$tag"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/synth.grib2"
    val planes = (0 until 3).map { ti =>
      graft.raquet.Grib2Writer.Plane(6 * ti, Array.tabulate(240 * 512) { k =>
        val p = (k % 512) >> 1
        if (p % 27 == 0) None else Some((3 * p + 7 * ti) % 251)
      })
    }
    graft.raquet.Grib2Writer.write(gribPath, ni = 512, nj = 240,
      basicAngle = 1, subdiv = 128,
      la1 = (84.0234375 * 128).round, lo1 = (180.3515625 * 128).round,
      di = 90, dj = 90, refTime = (2000, 1, 1, 0),
      planes = planes, nbits = 8, packing = packing)
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (GRIB2, simple packing + bitmap) driver proof. */
  def q147GribIngest(spark: SparkSession, dir: String): DataFrame =
    gribIngest(spark, "simple", "q147")

  /** S6 (GRIB2, complex packing with second-order spatial differencing —
    * the NCEP archive default) driver proof. */
  def q148GribComplex(spark: SparkSession, dir: String): DataFrame =
    gribIngest(spark, "complex_sd2", "q148")

  /** S6 (GRIB2, template 5.41 PNG packing — the NCEP/MRMS image packing)
    * driver proof: the q147 container with the X plane carried as PNG
    * images (bitmapped timesteps included), identical oracle — the codec
    * must not change one value. */
  def q163GribPng(spark: SparkSession, dir: String): DataFrame =
    gribIngest(spark, "png", "q163")

  /** S6 (GRIB2, template 5.40 JPEG 2000 packing — the NCEP GFS/NAM wire
    * format, g2clib's jpcpack) driver proof: the q147 container with the X
    * plane carried as lossless JPEG 2000 codestreams decoded by the
    * in-engine [[graft.raquet.Jpeg2000]] codec (MQ coder + T1 + 5/3 DWT),
    * bitmapped timesteps included; identical oracle — the codec must not
    * change one value. */
  def q177GribJpeg2000(spark: SparkSession, dir: String): DataFrame =
    gribIngest(spark, "jpeg2000", "q177")

  /** S6 (GRIB2, template 5.42 CCSDS/AEC packing — the ECMWF open-data wire
    * format, ecCodes via libaec) driver proof: the q147 container with the
    * X plane Rice-coded by the in-engine [[graft.raquet.Ccsds]] coder
    * (k-split / zero-run / second-extension / references), bitmapped
    * timesteps included; identical oracle. */
  def q178GribCcsds(spark: SparkSession, dir: String): DataFrame =
    gribIngest(spark, "ccsds", "q178")

  private def jp2RgbMelt(spark: SparkSession, out: String): DataFrame = {
    val ds = RaquetIO.read(spark, out)
    (1 to 3).map { c =>
      ds.data.select(col("block"),
        quadbin_zoom(col("block")).cast("long").as("zoom"),
        lit(c.toLong).as("band"),
        col(s"band_${c}_count").as("n_px"),
        col(s"band_${c}_min").cast("long").as("px_min"),
        col(s"band_${c}_max").cast("long").as("px_max"),
        col(s"band_${c}_sum").cast("long").as("px_sum"),
        rq_summary_stats(col(s"band_$c"), ds.meta, s"band_$c")
          .getField("sum").cast("long").as("dec_sum"))
    }.reduce(_ unionAll _)
  }

  private val Jp2GeoKeys =
    Seq(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)

  private def jp2RgbPlane(c: Int): Array[Int] =
    Array.tabulate(512 * 240) { k =>
      val p = (k % 512) >> 1
      if (p % 27 == 0) 255 else (3 * p + 101 * c) % 251
    }

  /** S6 (3-component JP2 with the reversible color transform — the
    * Sentinel-2 TCI preview shape) driver proof: an RGB codestream (RCT,
    * shared QCD with the widened chroma exponents) through the container
    * parse, multi-component decode, inverse RCT, and the 3-band distributed
    * convert; per-band stats against the closed-form [[RaquetOracles.q182]]
    * — the color transform must not change one value in any band. */
  def q182Jp2Rgb(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q182"
    new java.io.File(tmp).mkdirs()
    val jp2 = s"$tmp/tci.jp2"
    graft.raquet.Jp2.writeMulti(jp2, Array.tabulate(3)(jp2RgbPlane),
      512, 240, depth = 8, pixelSize = 0.703125,
      originX = -180.0, originY = 84.375, geoKeys = Jp2GeoKeys, rct = true)
    val out = s"$tmp/tci.parquet"
    val meta = graft.raquet.Jp2.convert(spark, jp2, out,
      tileStats = true, overviews = "auto", nodata = Some(255.0))
    require(meta.bands.size == 3, s"expected 3 bands, got ${meta.bands.size}")
    jp2RgbMelt(spark, out)
  }

  /** S6/M7 (Sentinel-2 granule workflow) driver proof: three single-band
    * JP2s on one grid → [[graft.raquet.Jp2.convertGranule]] — per-FILE
    * decode on executors (no driver funnel), the distributed convert per
    * band, then the J2 block equi-join band stack into ONE multi-band
    * raquet. Identical oracle to q182: the granule path and the
    * 3-component path must produce byte-identical per-band statistics. */
  def q183Jp2Granule(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q183"
    new java.io.File(tmp).mkdirs()
    val paths = (0 until 3).map { c =>
      val p = s"$tmp/band_B0${c + 2}.jp2"
      graft.raquet.Jp2.write(p, jp2RgbPlane(c), 512, 240, depth = 8,
        pixelSize = 0.703125, originX = -180.0, originY = 84.375,
        geoKeys = Jp2GeoKeys)
      p
    }
    val out = s"$tmp/granule.parquet"
    val meta = graft.raquet.Jp2.convertGranule(spark, paths, out,
      tileStats = true, overviews = "auto", nodata = Some(255.0))
    require(meta.bands.size == 3, s"expected 3 bands, got ${meta.bands.size}")
    jp2RgbMelt(spark, out)
  }

  /** S6 (GRIB2 statistical PDT 4.11 — ensemble-member accumulations, the
    * ECMWF/NCEP ensemble-archive shape) driver proof: the q147 grid with
    * every message a template-4.11 statistical product whose octet-18-22
    * forecast time is ZERO and whose overall interval ENDS at ref + 6·ti —
    * the CF valid time must come from the template-specific
    * end-of-interval septet (shifted by the ensemble triplet), landing on
    * exactly q147's 6-hourly axis. Identical oracle: a reader that dated
    * from the forecast-time octets, or read the septet at 4.8's offset,
    * collapses all timesteps to 0 or garbage. */
  def q180GribStatEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q180"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/synth.grib2"
    val sec3 = graft.raquet.Grib2Writer.sec3LatLon(512, 240,
      basicAngle = 1, subdiv = 128,
      la1 = (84.0234375 * 128).round, lo1 = (180.3515625 * 128).round,
      di = 90, dj = 90)
    val fos = new java.io.FileOutputStream(gribPath)
    try (0 until 3).foreach { ti =>
      val values = Array.tabulate[Option[Int]](240 * 512) { k =>
        val p = (k % 512) >> 1
        if (p % 27 == 0) None else Some((3 * p + 7 * ti) % 251)
      }
      fos.write(graft.raquet.Grib2Writer.messageWithSec3(sec3, (2000, 1, 1, 0),
        graft.raquet.Grib2Writer.Plane(0, values), nbits = 8,
        packing = "simple", 0, 0, 0,
        statEndOfInterval = Some((2000, 1, 1, 6 * ti)), statTemplate = 11))
    } finally fos.close()
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (GRIB edition-1, time-range indicator 4 — accumulations, the
    * ERA-class archive shape) driver proof: the q149 grid with every
    * message an accumulation over [ref+P1=0, ref+P2=6·ti]; the CF valid
    * time is the interval END (P2), landing on exactly q149's 6-hourly
    * axis. Identical oracle: a reader that decoded P1 as the valid time
    * would collapse every timestep to 0. */
  def q181Grib1Accum(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q181"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/synth.grib"
    val gds = graft.raquet.Grib1Writer.gdsLatLon(240, 100,
      la1Milli = 83500, lo1Milli = 180750, diMilli = 1500, djMilli = 1500)
    val fos = new java.io.FileOutputStream(gribPath)
    try (0 until 3).foreach { ti =>
      val values = Array.tabulate[Option[Int]](100 * 240) { k =>
        val p = (k % 240) >> 1
        if (p % 27 == 0) None else Some((3 * p + 7 * ti) % 251)
      }
      fos.write(graft.raquet.Grib1Writer.messageWithGds(gds, 100 * 240,
        (2000, 1, 1, 0), graft.raquet.Grib2Writer.Plane(6 * ti, values),
        nbits = 8, timeRange = 4, p1Hours = 0))
    } finally fos.close()
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 0 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (JP2 container — the Sentinel-2 band-file format) driver proof:
    * the q175/q82 grid written as a JP2 (signature/ftyp/jp2h boxes, GeoJP2
    * uuid georeferencing, [[graft.raquet.Jpeg2000]] codestream), converted
    * through [[graft.raquet.Jp2.convert]]; shares q82's closed-form oracle
    * — container + codec must not change one statistic. */
  def q179Jp2Ingest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q179"
    new java.io.File(tmp).mkdirs()
    val jp2 = s"$tmp/synth.jp2"
    val xs = Array.tabulate(512 * 240) { k =>
      val p = (k % 512) >> 1
      if (p % 27 == 0) 255 else 3 * p % 251
    }
    graft.raquet.Jp2.write(jp2, xs, 512, 240, depth = 8,
      pixelSize = 0.703125, originX = -180.0, originY = 84.375,
      geoKeys = Seq(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1,
        2048, 0, 1, 4326))
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Jp2.convert(spark, jp2, out,
      tileStats = true, overviews = "auto", nodata = Some(255.0))
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (GRIB2 template 3.30, Lambert conformal — the HRRR/NAM/NDFD CONUS
    * grid family) driver proof, the q104 pattern: source values are
    * constant on 16×16-cell patches (48 km square at 3 km spacing), probes
    * sit at patch centers in the LCC plane, and the oracle re-derives each
    * probe's geographic position independently via the closed-form
    * SPHERICAL Lambert formulas (the grid declares earth shape 6 = sphere
    * 6371229, so the engine's ellipsoidal path degenerates to the same
    * math at e²=0), rounded to 1e-5° — far above cross-libm noise, far
    * below the patch size. The nearest-neighbor warp plus the
    * approximating transformer can move a sampled source cell by well
    * under a cell, so a patch-center probe can never read a neighboring
    * patch: the VALUE equality is exact. */
  def q150GribLcc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q150"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/lcc.grib2"
    val (ni, nj) = (128, 128)
    // scan 0x40 (+j): file row 0 is the SOUTH row; patch value is defined
    // on north-up coordinates
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some(((nj - 1 - jf) / 16) * 8 + i / 16)
      })
    val sec3 = graft.raquet.Grib2Writer.sec3Lambert(ni, nj,
      la1Micro = 35000000L, lo1Micro = 260000000L,
      laDMicro = 38500000L, loVMicro = 262500000L,
      dxMm = 3000000L, dyMm = 3000000L,
      latin1Micro = 38500000L, latin2Micro = 38500000L)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 7, 4, 12),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/lcc.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.LambertConformalConic(6371229.0,
      Double.PositiveInfinity, 38.5, 38.5, 38.5, -97.5, 0.0, 0.0)
    val (x1, y1) = proj.fromLonLat(-100.0, 35.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = x1 + (16 * pi + 7.5) * 3000.0
      val yc = y1 + (119.5 - 16 * pj) * 3000.0
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB2 template 3.20, north-polar stereographic — NCEP sea-ice /
    * arctic product grids) driver proof: the q150 patch/probe pattern with
    * the spherical PS closed form in the oracle. 25 km cells, standard
    * parallel 70N, orientation −45E (the NSIDC arctic convention). */
  def q151GribPolar(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q151"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/ps.grib2"
    val (ni, nj) = (128, 128)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some(((nj - 1 - jf) / 16) * 8 + i / 16)
      })
    // first grid point: 60N, 10E — the grid sits across the pole's flank
    val sec3 = graft.raquet.Grib2Writer.sec3PolarStereo(ni, nj,
      la1Micro = 60000000L, lo1Micro = 10000000L,
      laDMicro = 70000000L, loVMicro = 315000000L,
      dxMm = 25000000L, dyMm = 25000000L)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 1, 1, 0),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/ps.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.PolarStereographic(6371229.0,
      Double.PositiveInfinity, 70.0, -45.0, 0.0, 0.0)
    val (x1, y1) = proj.fromLonLat(10.0, 60.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = x1 + (16 * pi + 7.5) * 25000.0
      val yc = y1 + (119.5 - 16 * pj) * 25000.0
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB2 template 3.10, Mercator — NCEP tropical/oceanic product
    * grids) driver proof: the q150 patch/probe pattern with the spherical
    * Mercator closed form (Snyder §7: x = R·k·λ, y = R·k·ln tan(π/4+φ/2),
    * k = cos φ_ts) recomputed by the oracle. 10 km cells true at 20°N,
    * first point (0°, −150°E), 128×128 / 16×16 patches. */
  def q159GribMercator(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q159"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/merc.grib2"
    val (ni, nj) = (128, 128)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some(((nj - 1 - jf) / 16) * 8 + i / 16)
      })
    val proj = graft.geo.Mercator(6371229.0, Double.PositiveInfinity,
      latTs = 20.0, lon0 = 0.0, falseEasting = 0.0, falseNorthing = 0.0)
    val (x1, y1) = proj.fromLonLat(-150.0, 0.0)
    // last grid point (north-east corner) for the informational La2/Lo2
    val (lo2, la2) = proj.toLonLat(x1 + (ni - 1) * 10000.0,
      y1 + (nj - 1) * 10000.0)
    val sec3 = graft.raquet.Grib2Writer.sec3Mercator(ni, nj,
      la1Micro = 0L, lo1Micro = 210000000L, laDMicro = 20000000L,
      la2Micro = math.round(la2 * 1e6), lo2Micro = math.round((lo2 + 360.0) * 1e6),
      dxMm = 10000000L, dyMm = 10000000L)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 7, 4, 12),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/merc.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = x1 + (16 * pi + 7.5) * 10000.0
      val yc = y1 + (119.5 - 16 * pj) * 10000.0
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB edition-1 Lambert conformal, GDS type 3) driver proof: the
    * q150 patch/probe pattern on the edition-1 conventional sphere
    * (6367470 m), same 128×128 / 3 km / 16×16-patch design; the oracle is
    * the identical closed-form spherical Lambert recomputation with only
    * the radius constant changed. */
  def q157Grib1Lcc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q157"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/lcc.grib"
    val (ni, nj) = (128, 128)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some(((nj - 1 - jf) / 16) * 8 + i / 16)
      })
    val gds = graft.raquet.Grib1Writer.gdsLambert(ni, nj,
      la1Milli = 35000, lo1Milli = 260000, loVMilli = 262500,
      dxM = 3000, dyM = 3000, latin1Milli = 38500, latin2Milli = 38500)
    val msg = graft.raquet.Grib1Writer.messageWithGds(gds, ni * nj,
      (2004, 5, 1, 6), plane, nbits = 8)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/lcc.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.LambertConformalConic(6367470.0,
      Double.PositiveInfinity, 38.5, 38.5, 38.5, -97.5, 0.0, 0.0)
    val (x1, y1) = proj.fromLonLat(-100.0, 35.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = x1 + (16 * pi + 7.5) * 3000.0
      val yc = y1 + (119.5 - 16 * pj) * 3000.0
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB2 template 3.1, rotated lat/lon — the COSMO/ICON/CORDEX
    * regional grid) driver proof: the q104 CORDEX grid (pole 39.25/−162,
    * 0.25° rotated cells) through a GRIB2 container — identical oracle;
    * the container must not change the georeferencing. */
  def q173GribRotated(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q173"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/rot.grib2"
    val (ni, nj) = (64, 64)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni // scan 0x00: north (rotated) first
        Some((jf / 8) * 8 + i / 8)
      })
    val sec3 = graft.raquet.Grib2Writer.sec3Rotated(ni, nj,
      la1Micro = 7875000L, lo1Micro = 352125000L,
      diMicro = 250000L, djMicro = 250000L,
      lapSMicro = -39250000L, lopSMicro = 18000000L)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 7, 4, 12),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/rot.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    rotatedProbeReadback(spark, out, meta)
  }

  /** S6 (GRIB edition-1 rotated lat/lon, GDS type 10) driver proof: the
    * q104 grid through the edition-1 container (millidegree rotated
    * coordinates, IBM-float rotation angle zero). Identical oracle. */
  def q174Grib1Rotated(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q174"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/rot.grib"
    val (ni, nj) = (64, 64)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some((jf / 8) * 8 + i / 8)
      })
    val gds = graft.raquet.Grib1Writer.gdsRotated(ni, nj,
      la1Milli = 7875, lo1Milli = 352125, diMilli = 250, djMilli = 250,
      lapSMilli = -39250, lopSMilli = 18000)
    val msg = graft.raquet.Grib1Writer.messageWithGds(gds, ni * nj,
      (2004, 5, 1, 6), plane, nbits = 8)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/rot.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    rotatedProbeReadback(spark, out, meta)
  }

  /** The q104 probe pattern over a converted rotated-pole dataset. */
  private def rotatedProbeReadback(spark: SparkSession, out: String,
      meta: graft.raquet.RaquetMetadata): DataFrame = {
    val ds = RaquetIO.read(spark, out)
    val rlats = Array.tabulate(64)(j => 8.0 - 0.25 * (j + 0.5))
    val rlons = Array.tabulate(64)(i => -8.0 + 0.25 * (i + 0.5))
    val proj = graft.geo.RotatedPole(39.25, -162.0)
    val probes = for (bj <- 1 until 8 by 2; bi <- 1 until 8 by 2) yield {
      val (j, i) = (bj * 8 + 4, bi * 8 + 4)
      val (lon, lat) = proj.toLonLat(rlons(i), rlats(j))
      (bi.toLong, bj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("bi", "bj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("bi"), col("bj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (CF PROJECTED NetCDF — the CONUS404/HRRR-as-netCDF shape) driver
    * proof: the q150 LCC grid carried as a netCDF with x/y KILOMETER axes
    * and a `lambert_conformal_conic` grid-mapping variable (earth_radius
    * sphere). Identical oracle — the container and the CF attribute
    * plumbing must reproduce the same georeferencing. */
  def q176NcProjected(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q176"
    new java.io.File(tmp).mkdirs()
    val nc = s"$tmp/lcc.nc"
    val (ni, nj) = (128, 128)
    val proj = graft.geo.LambertConformalConic(6371229.0,
      Double.PositiveInfinity, 38.5, 38.5, 38.5, -97.5, 0.0, 0.0)
    val (x1, y1) = proj.fromLonLat(-100.0, 35.0)
    // y axis north-first (descending), in KILOMETERS; x ascending
    val ys = Array.tabulate(nj)(j => (y1 + (nj - 1 - j) * 3000.0) / 1000.0)
    val xs = Array.tabulate(ni)(i => (x1 + i * 3000.0) / 1000.0)
    graft.raquet.NetCdfWriter.write(nc, ys, xs, Array(0.0),
      "days since 2021-07-04", -9999f,
      (_, j, i) => ((j / 16) * 8 + i / 16).toFloat, // north-up patches
      gridMapping = Some(graft.raquet.NetCdfWriter.Mapping(
        "lambert_conformal_conic",
        Seq("standard_parallel" -> Array(38.5, 38.5),
          "latitude_of_projection_origin" -> Array(38.5),
          "longitude_of_central_meridian" -> Array(-97.5),
          "earth_radius" -> Array(6371229.0),
          "false_easting" -> Array(0.0),
          "false_northing" -> Array(0.0)),
        "y", "x", "km")))
    val out = s"$tmp/lcc.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, nc, out, overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = x1 + (16 * pi + 7.5) * 3000.0
      val yc = y1 + (119.5 - 16 * pj) * 3000.0
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** Contour extraction (gdal_contour shape, raster→vector) driver proof:
    * a mercator-aligned 512×512 plane v = gx + 2·gy converts losslessly
    * (grid-aligned, nearest warp = identity), and rq_contour at level
    * 300.5 crosses cells where gx + 2·gy ∈ {298, 299, 300} — every
    * segment endpoint is exact dyadic arithmetic the oracle re-derives
    * per marching-squares case. Per-tile semantics: cells spanning tile
    * boundaries emit nothing (the focal halo-exchange stage's job). */
  def q171Contour(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q171"
    new java.io.File(tmp).mkdirs()
    val tif = s"$tmp/plane.tif"
    val (w, h) = (512, 512)
    val band = Array.tabulate(w * h)(k => ((k % w) + 2.0 * (k / w)))
    graft.raquet.TiffWriter.write(tif, w, h, "uint16", Array(band),
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = None)
    val out = s"$tmp/plane.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out, overviews = "none")
    val ds = RaquetIO.read(spark, out)
    ds.data
      .filter(quadbin_zoom(col("block")) === 1)
      .select(quadbin_tile_x(col("block")).cast("long").as("tx"),
        quadbin_tile_y(col("block")).cast("long").as("ty"),
        explode(rq_contour(col("band_1"), ds.meta, "band_1", 300.5)).as("s"))
      .select(col("tx"), col("ty"),
        element_at(col("s"), 1).as("x1"), element_at(col("s"), 2).as("y1"),
        element_at(col("s"), 3).as("x2"), element_at(col("s"), 4).as("y2"))
  }

  /** Contour with halo exchange ([[graft.operators.Focal.contour]])
    * driver proof: the q171 plane, but EVERY cell contours — including
    * the ones spanning tile boundaries, owned by the tile holding their
    * top-left pixel. The oracle is q171's without the boundary-cell
    * exclusion. */
  def q172ContourHalo(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q172"
    new java.io.File(tmp).mkdirs()
    val tif = s"$tmp/plane.tif"
    val (w, h) = (512, 512)
    val band = Array.tabulate(w * h)(k => ((k % w) + 2.0 * (k / w)))
    graft.raquet.TiffWriter.write(tif, w, h, "uint16", Array(band),
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = None)
    val out = s"$tmp/plane.parquet"
    graft.raquet.GeoTiff.convert(spark, tif, out, overviews = "none")
    val ds = RaquetIO.read(spark, out)
    Focal.contour(ds.data, ds.meta, "band_1", 300.5)
      .select(quadbin_tile_x(col("block")).cast("long").as("tx"),
        quadbin_tile_y(col("block")).cast("long").as("ty"),
        explode(col("segments")).as("s"))
      .select(col("tx"), col("ty"),
        element_at(col("s"), 1).as("x1"), element_at(col("s"), 2).as("y1"),
        element_at(col("s"), 3).as("x2"), element_at(col("s"), 4).as("y2"))
  }

  /** S6 (GRIB2 template 3.90, space view — the Meteosat/GOES full-disk
    * geostationary geometry) driver proof: a 128×128 sector centered on
    * the nadir of a satellite 6.61 earth radii from the centre, 16×16
    * patches, probes at patch centers. The oracle recomputes the CGMS
    * normalized-geostationary inverse closed-form: scan angles from the
    * grid geometry (the disc subtends 2·asin(1/Rg) over 1024 grid
    * lengths), the view ray, its near intersection with the sphere via
    * the quadratic, then lon/lat. */
  def q169GribSpaceView(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q169"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/geos.grib2"
    val (ni, nj) = (128, 128)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni // scan 0x00: north row first
        Some((jf / 16) * 8 + i / 16)
      })
    val sec3 = graft.raquet.Grib2Writer.sec3SpaceView(ni, nj,
      lopMicro = 0L, dxDisc = 1024L, dyDisc = 1024L,
      xpMilli = 512000L, ypMilli = 512000L, nr = 6610000L,
      xo = 448L, yo = 448L)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 7, 4, 12),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/geos.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val a = 6371229.0
    val rg = 6.61
    val proj = graft.geo.Geostationary(a, Double.PositiveInfinity,
      height = a * (rg - 1.0), lon0 = 0.0)
    val scale = a * (rg - 1.0)
    val rx = 2.0 * math.asin(1.0 / rg) / 1024.0
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = scale * ((448 + 16 * pi + 7.5 - 512.0) * rx)
      val yc = scale * ((512.0 - (448 + 16 * pj + 7.5)) * rx)
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB2 template 3.40, regular Gaussian — the ECMWF/ERA spectral
    * grid) driver proof: a 28-row SUBSET of the N16 grid (rows 2..29, so
    * the top row stays inside web-mercator's 85.05° limit and the subset
    * path is exercised), 64 columns of exact 2.8125° (= 45/16), patch
    * values, probes at grid points. The oracle recomputes the Gaussian
    * latitudes INDEPENDENTLY — Newton on the Legendre polynomial P₃₂ via
    * a recursive CTE (8 iterations of the three-term recurrence; agrees
    * with quadrature references to 1e-14). */
  def q161GribGaussian(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q161"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/gauss.grib2"
    val (ni, nj) = (64, 28)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni // scan 0x00: north row first
        Some((jf / 16) * 8 + i / 16)
      })
    val lats = graft.geo.GaussianLatitudes.latsDeg(32)
    val sec3 = graft.raquet.Grib2Writer.sec3Gaussian(ni, nj,
      la1Micro = math.round(lats(2) * 1e6),
      lo1Micro = 272000000L, // 272°E = −88°
      la2Micro = math.round(lats(29) * 1e6),
      diMicro = 2812500L, nPar = 16)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 7, 4, 12),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/gauss.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (jf <- Seq(3, 11, 19, 25); i <- Seq(5, 21, 37, 53)) yield {
      val lon = -88.0 + (2812500L * 1e-6) * i
      val lat = lats(jf + 2)
      (i.toLong, jf.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB2 template 3.40, REDUCED Gaussian — ERA5's native layout)
    * driver proof: the q161 28-row subset with per-row point counts from
    * the |lat| > 45° rule (16 points on polar rows, 32 on temperate —
    * both divisors of the 32-wide virtual raster, so every probe's
    * virtual column resolves to its own row point exactly). The oracle
    * recomputes the Gaussian latitudes by Newton-on-Legendre AND derives
    * each probed row's point count from the same latitude rule, so the
    * reduced-row geometry is verified end to end. */
  def q164GribReduced(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q164"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/reduced.grib2"
    val nj = 28
    val lats = graft.geo.GaussianLatitudes.latsDeg(32)
    val rowNi = (0 until nj).map(jf => if (math.abs(lats(jf + 2)) > 45) 16 else 32)
    val values = rowNi.zipWithIndex.flatMap { case (rn, jf) =>
      (0 until rn).map(m => Some(((jf + 2) * 7 + m * 3) % 200))
    }.toArray[Option[Int]]
    val plane = graft.raquet.Grib2Writer.Plane(0, values)
    val sec3 = graft.raquet.Grib2Writer.sec3GaussianReduced(nj,
      la1Micro = math.round(lats(2) * 1e6), lo1Micro = 0L,
      la2Micro = math.round(lats(29) * 1e6), nPar = 16, rowNi = rowNi)
    val msg = graft.raquet.Grib2Writer.messageWithSec3(sec3, (2021, 7, 4, 12),
      plane, nbits = 8, packing = "simple", 0, 0, 0)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/reduced.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (jf <- Seq(3, 11, 19, 25); m <- Seq(1, 3, 5, 7)) yield {
      val rn = rowNi(jf)
      val lon = m * (360.0 / rn)
      val lat = lats(jf + 2)
      (m.toLong, jf.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pm", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pm"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB edition-1 REDUCED Gaussian — ERA-Interim's native layout)
    * driver proof: the q164 design through the edition-1 GDS (Ni missing,
    * PL list at octet 33, millidegree La1). Identical oracle — the grid
    * is angular, so the edition changes only the container bytes. */
  def q165Grib1Reduced(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q165"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/reduced.grib"
    val nj = 28
    val lats = graft.geo.GaussianLatitudes.latsDeg(32)
    val rowNi = (0 until nj).map(jf => if (math.abs(lats(jf + 2)) > 45) 16 else 32)
    val values = rowNi.zipWithIndex.flatMap { case (rn, jf) =>
      (0 until rn).map(m => Some(((jf + 2) * 7 + m * 3) % 200))
    }.toArray[Option[Int]]
    val gds = graft.raquet.Grib1Writer.gdsGaussianReduced(nj,
      la1Milli = math.round(lats(2) * 1e3).toInt, lo1Milli = 0,
      la2Milli = math.round(lats(29) * 1e3).toInt, nPar = 16, rowNi = rowNi)
    val msg = graft.raquet.Grib1Writer.messageWithGds(gds, values.length,
      (2004, 5, 1, 6), graft.raquet.Grib2Writer.Plane(0, values), nbits = 8)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/reduced.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (jf <- Seq(3, 11, 19, 25); m <- Seq(1, 3, 5, 7)) yield {
      val rn = rowNi(jf)
      val lon = m * (360.0 / rn)
      val lat = lats(jf + 2)
      (m.toLong, jf.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pm", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pm"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB edition-1 Gaussian, GDS type 4) driver proof: the q161
    * subset design in edition-1 millidegree coordinates (Di = 2.812°; the
    * 45/16 increment is not millidegree-expressible), conventional
    * sphere irrelevant — the grid is angular. */
  def q162Grib1Gaussian(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q162"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/gauss.grib"
    val (ni, nj) = (64, 28)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some((jf / 16) * 8 + i / 16)
      })
    val lats = graft.geo.GaussianLatitudes.latsDeg(32)
    val gds = graft.raquet.Grib1Writer.gdsGaussian(ni, nj,
      la1Milli = math.round(lats(2) * 1e3).toInt,
      lo1Milli = 272000,
      la2Milli = math.round(lats(29) * 1e3).toInt,
      diMilli = 2812, nPar = 16)
    val msg = graft.raquet.Grib1Writer.messageWithGds(gds, ni * nj,
      (2004, 5, 1, 6), plane, nbits = 8)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/gauss.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (jf <- Seq(3, 11, 19, 25); i <- Seq(5, 21, 37, 53)) yield {
      val lon = -88.0 + (2812 * 1e-3) * i
      val lat = lats(jf + 2)
      (i.toLong, jf.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB edition-1 Mercator, GDS type 1) driver proof: the q159
    * patch/probe design on the edition-1 conventional sphere (6367470 m),
    * millidegree coordinates, Di/Dj in whole meters true at 20°N. */
  def q160Grib1Mercator(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q160"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/merc.grib"
    val (ni, nj) = (128, 128)
    val plane = graft.raquet.Grib2Writer.Plane(0,
      Array.tabulate[Option[Int]](ni * nj) { k =>
        val jf = k / ni; val i = k % ni
        Some(((nj - 1 - jf) / 16) * 8 + i / 16)
      })
    val proj = graft.geo.Mercator(6367470.0, Double.PositiveInfinity,
      latTs = 20.0, lon0 = 0.0, falseEasting = 0.0, falseNorthing = 0.0)
    val (x1, y1) = proj.fromLonLat(-150.0, 0.0)
    val (lo2, la2) = proj.toLonLat(x1 + (ni - 1) * 10000.0,
      y1 + (nj - 1) * 10000.0)
    val gds = graft.raquet.Grib1Writer.gdsMercator(ni, nj,
      la1Milli = 0, lo1Milli = 210000,
      la2Milli = math.round(la2 * 1e3).toInt,
      lo2Milli = math.round((lo2 + 360.0) * 1e3).toInt,
      latinMilli = 20000, diM = 10000, djM = 10000)
    val msg = graft.raquet.Grib1Writer.messageWithGds(gds, ni * nj,
      (2004, 5, 1, 6), plane, nbits = 8)
    val fos = new java.io.FileOutputStream(gribPath)
    try fos.write(msg) finally fos.close()
    val out = s"$tmp/merc.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = x1 + (16 * pi + 7.5) * 10000.0
      val yc = y1 + (119.5 - 16 * pj) * 10000.0
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (GRIB edition 1) driver proof: a 240×100 grid of exact 1.5° cells
    * (1500 millidegrees — edition 1 carries only millidegree coordinates,
    * so the q79 45/64° grid cannot exist in it), top edge 84.25°N, full
    * 360° width, three six-hourly messages, bitmap-missing columns
    * (p%27==0), simple packing with an IBM-hexadecimal-float reference.
    * Resolution 1.5° ⇒ one native z0 tile; the oracle recomputes the three
    * (tile, timestep) stats rows per-pixel: col = floor((i+0.5)·15/16)
    * (dyadic, never integral — no floor ambiguity), row validity by the
    * same gudermannian closed form as q79. */
  def q149Grib1Ingest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q149"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/synth.grib"
    val planes = (0 until 3).map { ti =>
      graft.raquet.Grib2Writer.Plane(6 * ti, Array.tabulate(100 * 240) { k =>
        val p = (k % 240) >> 1
        if (p % 27 == 0) None else Some((3 * p + 7 * ti) % 251)
      })
    }
    graft.raquet.Grib1Writer.write(gribPath, ni = 240, nj = 100,
      la1Milli = 83500, lo1Milli = 180750, diMilli = 1500, djMilli = 1500,
      refTime = (2000, 1, 1, 0), planes = planes, nbits = 8)
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Grib1.convert(spark, gribPath, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 0 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (AAIGrid) driver proof: Esri ASCII grid ingest (`docs/cli.md:154`)
    * — the q79 world grid as a single-band `.asc` (streamed ASCII→TIFF
    * transcode, then the distributed warp). Same float-immune oracle
    * design: values depend only on the source column pair. */
  /** S6 (ENVI raw-binary cube) driver proof: the q82 grid as a BSQ uint8
    * ENVI pair (text header + bare samples, geographic map info) —
    * identical oracle; the container must not change one value. */
  def q175EnviIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q175"
    new java.io.File(tmp).mkdirs()
    val dat = s"$tmp/synth.dat"
    val buf = new Array[Byte](512 * 240)
    var k = 0
    var j = 0
    while (j < 240) {
      var i = 0
      while (i < 512) {
        val p = i >> 1
        buf(k) = (if (p % 27 == 0) 255 else 3 * p % 251).toByte
        k += 1; i += 1
      }
      j += 1
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dat), buf)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dat.hdr"),
      """ENVI
        |samples = 512
        |lines = 240
        |bands = 1
        |data type = 1
        |interleave = bsq
        |byte order = 0
        |map info = {Geographic Lat/Lon, 1.0, 1.0, -180.0, 84.375,
        |  0.703125, 0.703125, WGS-84, units=Degrees}
        |data ignore value = 255
        |""".stripMargin.getBytes("US-ASCII"))
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Envi.convert(spark, dat, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  def q82AaigridIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q82"
    new java.io.File(tmp).mkdirs()
    val asc = s"$tmp/synth.asc"
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(asc), 1 << 20))
    try {
      w.println("ncols 512")
      w.println("nrows 240")
      w.println("xllcorner -180")
      w.println("yllcorner -84.375")
      w.println("cellsize 0.703125")
      w.println("NODATA_value 255")
      var j = 0
      while (j < 240) {
        val sb = new StringBuilder
        var i = 0
        while (i < 512) {
          val p = i >> 1
          sb.append(if (p % 27 == 0) 255 else 3 * p % 251)
          sb.append(if (i == 511) "" else " ")
          i += 1
        }
        w.println(sb.toString)
        j += 1
      }
    } finally w.close()
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.AaiGrid.convert(spark, asc, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6-breadth driver proof: SRTM `.hgt` ingest (the most mirrored public
    * DEM format; GDAL's SRTMHGT driver). A synthetic N00E000.hgt (1201²
    * big-endian int16, grid-center registration, -32768 voids) converts
    * through [[graft.raquet.SrtmHgt]] → the distributed warp at native zoom
    * 11 (overviews off — the pyramid path is q24/q82's proof), and per-tile
    * stats + a decode-path sum are checked against a fully closed-form
    * oracle. Values depend only on the source COLUMN (rows constant), so
    * y-resampling cannot move them; latitude enters solely through
    * valid-row counts (the q82 gudermannian device), and the u mapping is
    * dyadic-exact with ≥1.2e-4 distance to every floor boundary. Column
    * class u≡0 (mod 37) is void, which makes one whole tile column
    * (tx=1023) all-nodata — the NULL-stats path is part of the oracle. */
  def q84SrtmIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q84"
    new java.io.File(tmp).mkdirs()
    val hgt = s"$tmp/N00E000.hgt"
    val n = 1201
    val dos = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(hgt), 1 << 20))
    try {
      var r = 0
      while (r < n) {
        var c = 0
        while (c < n) {
          dos.writeShort(if (c % 37 == 0) -32768 else (5 * c) % 1999)
          c += 1
        }
        r += 1
      }
    } finally dos.close()
    val out = s"$tmp/srtm.parquet"
    val meta = graft.raquet.SrtmHgt.convert(spark, hgt, out,
      tileStats = true, overviews = "none")
    require(meta.maxZoom == 11 && meta.minZoom == 11,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** Remote-ingest driver proof (vsicurl parity, `raquet/cli.py:22-46`):
    * the q60 synthetic TIFF served by an in-process localhost server that
    * honors HTTP Range; `convert("http://…")` pulls tag headers on the
    * driver and per-window strip ranges from executor tasks — no full-file
    * download — and the read-back must match the SAME closed-form oracle
    * as the local-file convert (q60), so the transport provably changes
    * nothing. */
  def q81HttpTiff(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q81"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/synth.tif", new com.sun.net.httpserver.HttpHandler {
      private val RangeRe = """bytes=(\d+)-(\d+)""".r
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        Option(ex.getRequestHeaders.getFirst("Range")) match {
          case Some(RangeRe(a, b)) =>
            val from = a.toLong.toInt
            val to = math.min(b.toLong, bytes.length - 1L).toInt
            ex.getResponseHeaders.set("Content-Range",
              s"bytes $from-$to/${bytes.length}")
            ex.sendResponseHeaders(206, to - from + 1L)
            ex.getResponseBody.write(bytes, from, to - from + 1)
          case _ =>
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/synth.tif"
      val out = s"$tmp/synth.parquet"
      graft.raquet.GeoTiff.convert(spark, url, out,
        tileStats = true, overviews = "none")
      val result = convertReadback(spark, out)
      result.persist().count() // materialize before the server stops
      result
    } finally server.stop(0)
  }

  /** Object-store-transport driver proof: the q60 convert through an
    * `s3://bucket/key` source. `RandomReader` rewrites the scheme to the
    * path-style HTTPS endpoint (`cli.py:22-46` — the reference prefixes
    * GDAL's `/vsis3/`; graft speaks plain ranged HTTPS, public buckets
    * only) — here pointed at an in-process server speaking that layout.
    * Identical oracle to q60: the transport must not change one byte. */
  def q87S3Tiff(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q87"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // path-style object layout: /<bucket>/<key>
    server.createContext("/test-bucket/rasters/synth.tif",
      new com.sun.net.httpserver.HttpHandler {
        private val RangeRe = """bytes=(\d+)-(\d+)""".r
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          Option(ex.getRequestHeaders.getFirst("Range")) match {
            case Some(RangeRe(a, b)) =>
              val from = a.toLong.toInt
              val to = math.min(b.toLong, bytes.length - 1L).toInt
              ex.getResponseHeaders.set("Content-Range",
                s"bytes $from-$to/${bytes.length}")
              ex.sendResponseHeaders(206, to - from + 1L)
              ex.getResponseBody.write(bytes, from, to - from + 1)
            case _ =>
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes)
          }
          ex.close()
        }
      })
    server.start()
    val prevEndpoint = sys.props.get("graft.s3.endpoint")
    sys.props("graft.s3.endpoint") =
      s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val out = s"$tmp/synth.parquet"
      graft.raquet.GeoTiff.convert(spark, "s3://test-bucket/rasters/synth.tif",
        out, tileStats = true, overviews = "none")
      val result = convertReadback(spark, out)
      result.persist().count() // materialize before the server stops
      result
    } finally {
      server.stop(0)
      prevEndpoint match {
        case Some(v) => sys.props("graft.s3.endpoint") = v
        case None => sys.props.remove("graft.s3.endpoint")
      }
    }
  }

  /** Authenticated-transport driver proof: the q60 convert through an
    * `s3://` source whose server ENFORCES AWS SigV4 — every request (tag
    * reads and the coalesced pixel GETs alike) is verified server-side via
    * [[graft.sources.SigV4.verify]] and 403s without a valid signature, so
    * a pass proves the signer end-to-end, not just the transport. The
    * reference reaches private buckets via GDAL `/vsis3/`
    * (`raquet/cli.py:22-46`); graft signs its own ranged GETs with
    * credentials from the standard AWS names. Identical oracle to q60:
    * auth must not change one byte. */
  /** Authenticated-transport driver proof #2: the q60 convert through an
    * `az://` source whose server ENFORCES Azure Blob SharedKey — every
    * ranged GET is verified via [[graft.sources.AzSharedKey.verify]] and
    * 403s without a valid signature. The reference reaches Azure via GDAL
    * `/vsiaz/` (`raquet/cli.py:22-46`); graft signs its own Range GETs
    * with the same `AZURE_STORAGE_ACCOUNT`/`AZURE_STORAGE_ACCESS_KEY`
    * names. Identical oracle to q60: auth must not change one byte. */
  def q168AzSigned(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q168"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif))
    val account = "graftq168acct"
    val key64 = java.util.Base64.getEncoder.encodeToString(
      "graft-q168-fixture-shared-key!!!".getBytes("UTF-8"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rasters/synth.tif",
      new com.sun.net.httpserver.HttpHandler {
        private val RangeRe = """bytes=(\d+)-(\d+)""".r
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val all = {
            val it = ex.getRequestHeaders.entrySet().iterator()
            val b = Seq.newBuilder[(String, String)]
            while (it.hasNext) {
              val e = it.next()
              if (!e.getValue.isEmpty) b += e.getKey -> e.getValue.get(0)
            }
            b.result()
          }
          graft.sources.AzSharedKey.verify(ex.getRequestMethod,
            ex.getRequestURI.getRawPath,
            Option(ex.getRequestURI.getRawQuery).getOrElse(""), all,
            a => if (a == account) Some(key64) else None) match {
            case Left(_) => ex.sendResponseHeaders(403, -1)
            case Right(_) =>
              Option(ex.getRequestHeaders.getFirst("Range")) match {
                case Some(RangeRe(a, b)) =>
                  val from = a.toLong.toInt
                  val to = math.min(b.toLong, bytes.length - 1L).toInt
                  ex.getResponseHeaders.set("Content-Range",
                    s"bytes $from-$to/${bytes.length}")
                  ex.sendResponseHeaders(206, to - from + 1L)
                  ex.getResponseBody.write(bytes, from, to - from + 1)
                case _ =>
                  ex.sendResponseHeaders(200, bytes.length.toLong)
                  ex.getResponseBody.write(bytes)
              }
          }
          ex.close()
        }
      })
    server.start()
    val props = Seq(
      "graft.az.endpoint" -> s"http://127.0.0.1:${server.getAddress.getPort}",
      "graft.az.account" -> account,
      "graft.az.key" -> key64)
    val prev = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try {
      val out = s"$tmp/synth.parquet"
      graft.raquet.GeoTiff.convert(spark, "az://rasters/synth.tif", out,
        tileStats = true, overviews = "none")
      val result = convertReadback(spark, out)
      result.persist().count() // materialize before the server stops
      result
    } finally {
      server.stop(0)
      prev.foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None) => sys.props.remove(k)
      }
    }
  }

  def q90S3Signed(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q90"
    val tif = s"$tmp/synth.tif"
    new java.io.File(tmp).mkdirs()
    writeConvertOracleTiff(tif)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif))
    val accessKey = "AKGRAFTQ90TEST"
    val secretKey = "graft-q90-fixture-secret"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/private-bucket/rasters/synth.tif",
      new com.sun.net.httpserver.HttpHandler {
        private val RangeRe = """bytes=(\d+)-(\d+)""".r
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          def header(n: String) = Option(ex.getRequestHeaders.getFirst(n))
          graft.sources.SigV4.verify(ex.getRequestMethod,
            ex.getRequestURI.getRawPath,
            Option(ex.getRequestURI.getRawQuery).getOrElse(""), header,
            k => if (k == accessKey) Some(secretKey) else None) match {
            case Left(_) => ex.sendResponseHeaders(403, -1)
            case Right(_) => header("Range") match {
              case Some(RangeRe(a, b)) =>
                val from = a.toLong.toInt
                val to = math.min(b.toLong, bytes.length - 1L).toInt
                ex.getResponseHeaders.set("Content-Range",
                  s"bytes $from-$to/${bytes.length}")
                ex.sendResponseHeaders(206, to - from + 1L)
                ex.getResponseBody.write(bytes, from, to - from + 1)
              case _ =>
                ex.sendResponseHeaders(200, bytes.length.toLong)
                ex.getResponseBody.write(bytes)
            }
          }
          ex.close()
        }
      })
    server.start()
    val props = Seq(
      "graft.s3.endpoint" -> s"http://127.0.0.1:${server.getAddress.getPort}",
      "aws.accessKeyId" -> accessKey,
      "aws.secretAccessKey" -> secretKey,
      "aws.region" -> "us-east-1")
    val prev = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try {
      val out = s"$tmp/synth.parquet"
      graft.raquet.GeoTiff.convert(spark,
        "s3://private-bucket/rasters/synth.tif", out,
        tileStats = true, overviews = "none")
      val result = convertReadback(spark, out)
      result.persist().count() // materialize before the server stops
      result
    } finally {
      server.stop(0)
      prev.foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None) => sys.props.remove(k)
      }
    }
  }

  /** F8 (lossy) driver proof: VP8 key-frame decode conformance inside the
    * engine. The checked-in 256×256 webp tile was encoded by libwebp (the
    * same encoder Pillow uses for the reference's `compression="webp"`
    * datasets, `raster2raquet.py:845`); [[graft.raquet.Vp8]] decodes it
    * through the standard interleaved-tile kernel (`rq_decode`) and the
    * oracle aggregates the CHECKED-IN golden pixels that libwebp's own
    * decoder produced — bit-exact equality, not a lossy tolerance. */
  def q80Vp8Decode(spark: SparkSession, dir: String): DataFrame = {
    val res = "/root/repo/src/test/resources/webp"
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$res/vp8_256x256_q80.webp"))
    val meta = graft.raquet.RaquetMetadata(
      version = "0.5.0", width = 256, height = 256, crs = "EPSG:3857",
      bounds = Array(-180.0, -85.0, 180.0, 85.0), compression = Some("webp"),
      blockWidth = 256, blockHeight = 256, minZoom = 0, maxZoom = 0,
      pixelZoom = 8, numBlocks = 1, bandLayout = "interleaved",
      bands = (1 to 3).map(k => graft.raquet.BandMeta(
        s"band_$k", "uint8", None, None, None, None, None)),
      time = None)
    import spark.implicits._
    val df = Seq(Tuple1(bytes)).toDF("webp")
      .withColumn("pixels", mm_webp_pixels(col("webp"), 3))
    (1 to 3).map { b =>
      df.select(lit(b).as("channel"),
        posexplode(rq_decode(mm_deinterleave(col("pixels"), b - 1, 3, 1),
          meta, s"band_$b")).as(Seq("pos", "v")))
    }.reduce(_ unionByName _)
      .groupBy((col("pos") / lit(4096)).cast("long").as("band16"), col("channel"))
      .agg(count(lit(1)).as("n_px"), sum(col("v")).as("vsum"),
        min(col("v")).cast("long").as("vmin"), max(col("v")).cast("long").as("vmax"))
  }

  /** F8 WRITE-side driver proof: lossy VP8 ENCODE conformance inside the
    * engine. The deterministic test card is encoded at q=80 by
    * [[graft.raquet.Vp8Enc]] ON EXECUTORS (`mm_webp_lossy`, the same kernel
    * the convert path uses for `compression="webp"` with a quality), decoded
    * back through the standard read kernels, and aggregated; the oracle
    * aggregates the pixels the SYSTEM libwebp's decoder produced for the
    * byte-identical pinned stream (`tools/gen_vp8enc_goldens.py`) —
    * bit-exact equality, proving streams we write are decoded identically
    * by the reference implementation. */
  def q83WebpLossyEncode(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.raquet.FixtureGen.testCardRgb(256, 256, 3)
    val meta = graft.raquet.RaquetMetadata(
      version = "0.5.0", width = 256, height = 256, crs = "EPSG:3857",
      bounds = Array(-180.0, -85.0, 180.0, 85.0), compression = Some("webp"),
      blockWidth = 256, blockHeight = 256, minZoom = 0, maxZoom = 0,
      pixelZoom = 8, numBlocks = 1, bandLayout = "interleaved",
      bands = (1 to 3).map(k => graft.raquet.BandMeta(
        s"band_$k", "uint8", None, None, None, None, None)),
      time = None)
    import spark.implicits._
    val df = Seq(Tuple1(src)).toDF("raw")
      .withColumn("webp", mm_webp_lossy(col("raw"), 256, 256, 3, 80))
      .withColumn("pixels", mm_webp_pixels(col("webp"), 3))
    (1 to 3).map { b =>
      df.select(lit(b).as("channel"),
        posexplode(rq_decode(mm_deinterleave(col("pixels"), b - 1, 3, 1),
          meta, s"band_$b")).as(Seq("pos", "v")))
    }.reduce(_ unionByName _)
      .groupBy((col("pos") / lit(4096)).cast("long").as("band16"), col("channel"))
      .agg(count(lit(1)).as("n_px"), sum(col("v")).as("vsum"),
        min(col("v")).cast("long").as("vmin"), max(col("v")).cast("long").as("vmax"))
  }

  /** Registered-source driver proof: `spark.read.format("raquet")` — the
    * DataSourceRegister path (`RaquetFileFormat`, one `HadoopFsRelation`
    * planned as a `FileSourceScanExec`) plus the RaquetMetadataExclusion
    * analyzer rule (metadata row dropped by the SOURCE, not the query). The
    * oracle reads the same parquet with an explicit `block <> 0`; if the
    * rule failed, an extra NULL-zoom group appears and the row count
    * mismatches. */
  def q73DataSource(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("raquet").load(Fixture)
      .groupBy(quadbin_zoom(col("block")).cast("long").as("zoom"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(col("band_1_count")).cast("long").as("valid_px"),
        sum(col("band_2_sum")).as("b2_sum"))

  /** S7 driver proof: ImageServer-style HTTP tile ingest end-to-end. An
    * in-process localhost server (no egress) serves deterministic PNG
    * tiles of the fixture's v3 formulas; `TileHttpSource.fetch` pulls them
    * in parallel (executor-side HTTP + PNG decode + channel split, the
    * `imageserver_to_raquet_table` shape, `raquet/imageserver.py:429-769`),
    * and per-band pixel sums are checked against the closed-form oracle.
    * The result is materialized (persist+count) before the server stops. */
  def q69HttpIngest(spark: SparkSession, dir: String): DataFrame = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/tiles/", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val parts = ex.getRequestURI.getPath.split("/") // /tiles/z/x/y.png
        val png = graft.raquet.FixtureGen.pngTile3(
          parts(3).toLong, parts(4).stripSuffix(".png").toLong, 16)
        ex.sendResponseHeaders(200, png.length)
        ex.getResponseBody.write(png)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val tiles = for (x <- 32L to 35L; y <- 24L to 25L) yield (x, y)
      val df = graft.sources.TileHttpSource.fetch(spark,
        s"http://127.0.0.1:$port/tiles/{z}/{x}/{y}.png",
        tiles, zoom = 6, bands = 3, parallelism = 4)
      val meta = graft.raquet.FixtureGen.bipMetadata(6, 32, 24, 4, 2, 16, "gzip")
        .copy(bandLayout = "sequential")
      val sums = (1 to 3).map { b =>
        aggregate(rq_decode(col(s"band_$b"), meta, s"band_$b"),
          lit(0.0), (a, x) => a + x).as(s"b${b}_sum")
      }
      val out = df.select(col("block") +: sums: _*).persist()
      out.count() // force the fetch while the server is alive
      out
    } finally server.stop(0)
  }

  /** P6 driver proof: the ingest-time empty-tile filter. The endpoint
    * serves a 3×3 grid where one tile is all-zero; `fetch(skipEmpty=true)`
    * must drop exactly that tile (the imageserver empty-tile filter,
    * `raquet/imageserver.py:366-372`), and the surviving rows' band sums
    * match the closed-form oracle over the 8 non-empty tiles. */
  def q72SkipEmpty(spark: SparkSession, dir: String): DataFrame = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/tiles/", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val parts = ex.getRequestURI.getPath.split("/")
        val x = parts(3).toLong
        val y = parts(4).stripSuffix(".png").toLong
        val png =
          if (x == 37 && y == 29) { // the empty tile: solid black
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          } else graft.raquet.FixtureGen.pngTile3(x, y, 16)
        ex.sendResponseHeaders(200, png.length)
        ex.getResponseBody.write(png)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val tiles = for (x <- 36L to 38L; y <- 28L to 30L) yield (x, y)
      val df = graft.sources.TileHttpSource.fetch(spark,
        s"http://127.0.0.1:$port/tiles/{z}/{x}/{y}.png",
        tiles, zoom = 6, bands = 3, parallelism = 4, skipEmpty = true)
      val meta = graft.raquet.FixtureGen.bipMetadata(6, 36, 28, 3, 3, 16, "gzip")
        .copy(bandLayout = "sequential")
      val out = df.select(col("block"),
        aggregate(rq_decode(col("band_1"), meta, "band_1"),
          lit(0.0), (a, x) => a + x).as("b1_sum")).persist()
      out.count() // force the fetch while the server is alive
      out
    } finally server.stop(0)
  }

  /** S11 driver proof: the raquet tile server renders `/tile/z/x/y.png`
    * from the fixture (S4 lookup → decode → PNG, the
    * `examples/server_viewer.py:169-228` shape) and the query re-decodes
    * each PNG, splitting opaque pixels (value = band_1 DN) from the
    * transparent nodata mask — all re-derived closed-form by the oracle. */
  def q70TileRender(spark: SparkSession, dir: String): DataFrame = {
    val server = graft.sources.RaquetTileServer.start(spark, Fixture)
    try {
      val port = server.getAddress.getPort
      // fetch from the DRIVER thread: each render request runs its own
      // Spark point query inside the server, so fetching from executor
      // tasks would let the outer job starve the render jobs of task
      // slots on a small local[n] (deadlock-until-timeout)
      val rows = (32L to 39L).map { x =>
        val png = graft.sources.TileHttpSource.fetchBytes(
          s"http://127.0.0.1:$port/tile/6/$x/26.png")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        var sum = 0.0; var opaque = 0L; var transparent = 0L
        for (j <- 0 until img.getHeight; i <- 0 until img.getWidth) {
          val argb = img.getRGB(i, j)
          if ((argb >>> 24) == 0) transparent += 1
          else { sum += argb & 0xFF; opaque += 1 }
        }
        (Quadbin.tileToCell(x, 26L, 6), opaque, transparent, sum)
      }
      import spark.implicits._
      rows.toDF("block", "n_opaque", "n_transparent", "gray_sum")
    } finally server.stop(0)
  }

  /** F8 driver proof: WebP-lossless (VP8L) encode → decode round-trip of
    * real tile bytes through the SQL expression surface (`mm_webp_encode` /
    * `mm_webp_pixels`, pure-JVM codec in [[graft.raquet.WebP]]). `exact`
    * asserts the decoded buffer is bit-identical to the input; the decoded
    * pixel aggregates are re-derived closed-form by the oracle — if the
    * codec dropped or altered a single byte, both checks break. */
  def q68WebpRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data
      .filter(quadbin_zoom(col("block")) === 6 && quadbin_tile_y(col("block")) === 25)
      .select(col("block"), rq_inflate(col("band_1")).as("raw"))
      .withColumn("webp", mm_webp_encode(col("raw"), 16, 16, 1))
      .withColumn("back", mm_webp_pixels(col("webp"), 1))
      .withColumn("exact", col("back") === col("raw"))
      .select(col("block"), col("exact"),
        explode(rq_decode(col("back"), ds.meta, "band_1")).as("v"))
      .groupBy("block", "exact")
      .agg(sum("v").as("px_sum"), min("v").as("px_min"), max("v").as("px_max"))
  }

  /** Vector→raster burn-in (the `gdal_rasterize` shape, inverse of
    * rq_clip): each zone polyfills to its intersecting cells, one hash agg
    * collects the (value, wkt) list per cell — zone lists per tile are
    * small by construction — and the paint kernel runs post-agg, fully
    * parallel. The raster is CREATED, never shuffled; zones ≪ output, so
    * the only exchange is the polyfill explode's groupBy. Overlaps resolve
    * by max value; untouched pixels are nodata. */
  def rasterizeZones(zones: DataFrame, zoom: Int,
      kernel: graft.raquet.BandKernel): DataFrame =
    zones.select(col("zone_id").cast("double").as("value"), col("wkt"))
      .withColumn("block", explode(st_polyfill_col(col("wkt"), lit(zoom))))
      .groupBy("block")
      .agg(collect_list(struct(col("value"), col("wkt"))).as("zones"))
      .select(col("block"),
        rq_rasterize(col("block"), col("zones"), kernel).as("band_1"))

  /** Rasterize driver proof: the q100 zone table burned into fresh 16×16
    * uint8 tiles at zoom 6 (nodata 0, max zone id wins on overlap), then
    * decoded back and counted per (tile, value). The oracle re-derives
    * every pixel's winning zone from the rectangle bounds and the
    * pixel-center mercator formulas — tiles whose intersection is a sliver
    * with no pixel center inside drop from both sides. */
  def q108Rasterize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zones = Seq((1L, RegionWkt), (2L, FastRegionWkt), (3L, Zone3Wkt))
      .toDF("zone_id", "wkt")
    val kernel = graft.raquet.BandKernel("uint8", 0.0, 16, 16, 1.0, 0.0)
    rasterizeZones(zones, zoom = 6, kernel)
      .select(col("block"), explode(rq_decode(col("band_1"), kernel)).as("pv"))
      .filter(col("pv") =!= 0.0)
      .groupBy(col("block"), col("pv").cast("long").as("v"))
      .agg(count(lit(1)).as("n"))
  }

  /** Dataset-level EXACT percentiles without a global sort: per-tile
    * `rq_histogram` count vectors (per-DN buckets, nodata excluded) merge
    * element-wise through posexplode + hash agg — map-side combine leaves
    * ≤256 rows per partition regardless of tile count — then a 256-row
    * cumulative window picks each percentile as the smallest DN whose
    * cumulative count reaches ceil(p·N/100), in INTEGER arithmetic
    * (`(p·N + 99) div 100`), so the result is exact at any scale. This
    * mergeable-histogram shape is how a 100 TB median is actually
    * computed; the oracle recounts every DN from the fixture closed form
    * and applies the same rule. */
  def q109DatasetPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, Fixture)
    val counts = ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(rq_histogram(col("band_1"), ds.meta, "band_1", -0.5, 255.5, 256).as("h"))
      .select(posexplode(col("h")).as(Seq("dn", "n")))
      .groupBy("dn").agg(sum("n").as("n"))
      .filter(col("n") > 0)
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("dn")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total",
        sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val ps = Seq(25, 50, 75, 90, 99).toDF("p")
    // theta-join (plans as a broadcast nested loop) — fine at ANY scale:
    // the left side is the merged histogram, bounded by `buckets` rows
    // regardless of raster size, and the right side is the percentile list
    cum.join(broadcast(ps),
        col("cum") >= expr("(p * total + 99) div 100"))
      .groupBy(col("p").cast("long").as("p"))
      .agg(min(col("dn")).cast("long").as("v"), max("total").as("n_total"))
  }

  /** Reclassify (ST_Reclass shape) driver proof: band_1 binned into four
    * classes by plan-time breaks, then per-tile stats of the RECLASSIFIED
    * blob — the output blob feeds the standard stats kernel, proving it is
    * a well-formed band (same dtype/nodata, gzip). The oracle re-derives
    * every pixel's class from the fixture's closed-form value; nodata
    * pixels must pass through (count unchanged vs q21). Left-closed bins:
    * a value exactly on a break (64/128/192 all occur in (7gx+13gy)%255)
    * falls in the upper class. */
  def q105Reclassify(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val breaks = Array(64.0, 128.0, 192.0)
    val classes = Array(10.0, 20.0, 30.0, 40.0)
    ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"),
        rq_summary_stats(
          rq_reclassify(col("band_1"), ds.meta, "band_1", breaks, classes),
          ds.meta, "band_1").as("s"))
      .select(col("block"), col("s.count").as("n_valid"),
        col("s.min").cast("long").as("cmin"),
        col("s.max").cast("long").as("cmax"),
        col("s.sum").cast("long").as("csum"))
  }

  /** Mosaic driver proof: two differently-patterned synthetic converts
    * composited first-valid-wins via [[graft.raquet.Mosaic]] (full-outer
    * join on block + `rq_composite`). Dataset A drops tile (1,1) entirely,
    * exercising the missing-side byte-identical pass-through; elsewhere A's
    * nodata stripes ((7gx+13gy)%256 = 255) are filled from B. The oracle
    * re-derives every pixel as coalesce(vA, vB) from the two closed forms,
    * with BOTH-nodata pixels staying holes. */
  def q106Mosaic(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q106"
    new java.io.File(tmp).mkdirs()
    val (tifA, tifB) = (s"$tmp/a.tif", s"$tmp/b.tif")
    writeSynthTiff(tifA, (gx, gy) => (7 * gx + 13 * gy) % 256)
    writeSynthTiff(tifB, (gx, gy) => (11 * gx + 3 * gy + 5) % 256)
    val (outA, outB) = (s"$tmp/a.parquet", s"$tmp/b.parquet")
    graft.raquet.GeoTiff.convert(spark, tifA, outA, tileStats = true, overviews = "none")
    graft.raquet.GeoTiff.convert(spark, tifB, outB, tileStats = true, overviews = "none")
    val a = RaquetIO.read(spark, outA)
    val b = RaquetIO.read(spark, outB)
    val aSub = a.copy(data = a.data.filter(
      !(quadbin_tile_x(col("block")) === 1 && quadbin_tile_y(col("block")) === 1)))
    graft.raquet.Mosaic.mosaic(aSub, b, Seq("band_1"))
      .select(col("block"),
        rq_summary_stats(col("band_1"), a.meta, "band_1").as("s"))
      .select(col("block"), col("s.count").as("n_valid"),
        col("s.min").cast("long").as("vmin"),
        col("s.max").cast("long").as("vmax"),
        col("s.sum").cast("long").as("vsum"))
  }

  /** Static tile-cache export driver proof ([[graft.sources.TileCache]]):
    * the whole fixture (all 85 tiles across zooms) renders to a z/x/y.png
    * tree by EXECUTORS, then the 64 native-zoom files are re-decoded via
    * ImageIO and aggregated — opaque/transparent pixel counts and gray
    * sums must match the fixture closed form (render is gray = DN for
    * uint8, nodata → transparent, the q70 contract). */
  def q111TileCache(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q111/tiles"
    val n = graft.sources.TileCache.export(spark, Fixture, tmp)
    require(n == 85, s"expected 85 tiles written, got $n")
    val rows = for {
      xd <- new java.io.File(s"$tmp/6").listFiles.toSeq.sortBy(_.getName)
      yf <- xd.listFiles.toSeq.sortBy(_.getName)
    } yield {
      val img = javax.imageio.ImageIO.read(yf)
      var sum = 0L; var opaque = 0L; var transparent = 0L
      for (j <- 0 until img.getHeight; i <- 0 until img.getWidth) {
        val argb = img.getRGB(i, j)
        if ((argb >>> 24) == 0) transparent += 1
        else { sum += argb & 0xFF; opaque += 1 }
      }
      val (x, y) = (xd.getName.toLong, yf.getName.stripSuffix(".png").toLong)
      (Quadbin.tileToCell(x, y, 6), opaque, transparent, sum)
    }
    import spark.implicits._
    rows.toDF("block", "n_opaque", "n_transparent", "gray_sum")
  }

  /** Zoom-refinement driver proof ([[graft.raquet.Pyramid.upsampleLevel]]):
    * every native z6 tile explodes into its 4 z7 children (nearest ×2
    * replication, no shuffle), stats per child vs the closed form — child
    * global pixel (gx', gy') carries V1(gx'/2, gy'/2), so each parent
    * value appears exactly 4× and nodata holes replicate. */
  def q112Upsample(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    graft.raquet.Pyramid.upsampleLevel(native, ds.meta, childZoom = 7)
      .select(col("block"),
        rq_summary_stats(col("band_1"), ds.meta, "band_1").as("s"))
      .select(col("block"), col("s.count").as("n_valid"),
        col("s.min").cast("long").as("vmin"),
        col("s.max").cast("long").as("vmax"),
        col("s.sum").cast("long").as("vsum"))
  }

  /** Str1 driver proof — continuous sorted tile ingestion
    * ([[graft.streaming.StreamingTiles.ingest]]): the fixture's data rows
    * arrive as two directory drops; the file-source stream appends each
    * micro-batch Morton-sorted to the output dataset. The read-back must
    * (a) preserve content exactly (the oracle recomputes the aggregate
    * from the fixture file) and (b) leave every output file internally
    * block-sorted — the prunable layout. The per-file sort check collects
    * only the 85-row fixture's block column (test plumbing, not a data
    * path). */
  def q145StreamIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q145"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(base))
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ck = s"$base/ck"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val ds = RaquetIO.read(spark, Fixture)
    val data = ds.data
    val b1 = data.filter(col("block") % 3 === 0)
    val b2 = data.filter(col("block") % 3 =!= 0)
    // drop = write one part file elsewhere, then move it into the watched
    // dir (the file source sees whole files appear, the ingest contract)
    def drop(df: DataFrame, name: String): Unit = {
      val tmp = s"$base/stage_$name"
      // deliberately unsorted input: the ingest sort must do the work
      df.orderBy(col("band_1_sum")).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      graft.raquet.ParquetFooter.parquetFiles(java.nio.file.Paths.get(tmp)).foreach(f =>
        java.nio.file.Files.move(f, java.nio.file.Paths.get(inDir, s"$name.parquet")))
    }
    drop(b1, "drop1")
    val q = graft.streaming.StreamingTiles.ingest(
      spark, inDir, data.schema, outDir, ck)
    try {
      q.processAllAvailable()
      drop(b2, "drop2")
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(outDir)
    val files = graft.raquet.ParquetFooter.parquetFiles(java.nio.file.Paths.get(outDir))
    val nFiles = files.size
    val allSorted = files.forall { f =>
      val blocks = spark.read.parquet(f.toString).coalesce(1)
        .select("block").collect().map(_.getLong(0))
      blocks.sameElements(blocks.sorted)
    }
    back.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("block")).as("n_distinct"),
      sum(col("band_1_count")).cast("long").as("valid_px"),
      sum(col("band_2_sum")).as("b2_sum"),
      min(col("block")).as("min_block"), max(col("block")).as("max_block"))
      .withColumn("n_batches_split", lit(nFiles >= 2))
      .withColumn("files_sorted", lit(allSorted))
  }

  /** Str2 driver proof — watermarked event-time windowed tile stats
    * ([[graft.streaming.StreamingTiles.windowedStats]]): the full time
    * fixture streams in two time-ordered micro-batches (each internally
    * unordered), a far-future sentinel advances the watermark so append
    * mode seals every real window, and the sealed output must equal the
    * batch 2-day-window aggregate the oracle recomputes per (window,
    * block) from the closed form. window_start is cast to DATE (epoch-
    * aligned 2-day windows start at midnight UTC) so the group key hashes
    * identically across engines. */
  def q146StreamWinStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = RaquetIO.read(spark, FixtureTime)
    val rows = ds.data
      .select(col("block"), col("time_ts"), col("band_1"), col("time_cf"))
      .as[(Long, java.sql.Timestamp, Array[Byte], Double)].collect()
    val tMid = rows.map(_._4).sorted.apply(rows.length / 2)
    val early = rows.filter(_._4 < tMid).map(r => (r._1, r._2, r._3))
    val late = rows.filter(_._4 >= tMid).map(r => (r._1, r._2, r._3))
    val maxTs = rows.map(_._2.getTime).max
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val tiles = input.toDF().toDF("block", "time_ts", "band_1")
    val out = graft.streaming.StreamingTiles.windowedStats(
      tiles, ds.meta, "band_1", watermarkDelay = "0 seconds",
      windowLen = "2 days")
    val q = out.writeStream.format("memory").queryName("q146_winstats")
      .outputMode("append").start()
    try {
      input.addData(early.toIndexedSeq)
      q.processAllAvailable()
      input.addData(late.toIndexedSeq)
      q.processAllAvailable()
      // sentinel 100 days out: pushes the watermark past every real window
      input.addData((rows.head._1,
        new java.sql.Timestamp(maxTs + 100L * 86400000L), rows.head._3))
      q.processAllAvailable()
    } finally q.stop()
    spark.table("q146_winstats")
      .filter(col("window_start") <= lit(new java.sql.Timestamp(maxTs)))
      .select(col("window_start").cast("date").as("window_day"), col("block"),
        col("n_valid"), col("vsum"), col("vmin"), col("vmax"))
  }

  /** Streaming incremental-pyramid driver proof
    * ([[graft.streaming.StreamingTiles.incrementalPyramid]]): the fixture's
    * 64 native z6 tiles arrive over three micro-batches — the third
    * RE-SENDS the first (upsert path) — and each batch recomputes only the
    * touched z5 parents. The final parent state must equal a from-scratch
    * pyramid level, verified against the q24 closed form restricted to
    * zoom 5. */
  def q114StreamPyramid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"), col("band_1"), col("band_2"))
      .as[(Long, Array[Byte], Array[Byte])].collect()
    val (b1, b2) = native.partition(_._1 % 3 == 0)
    val stateDir = s"${System.getProperty("java.io.tmpdir")}/graft_q114/state"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(stateDir))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte], Array[Byte])]
    val q = graft.streaming.StreamingTiles.incrementalPyramid(
      input.toDF().toDF("block", "band_1", "band_2"), ds.meta, stateDir,
      parentZoom = 5)
    try {
      input.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b1.toIndexedSeq) // idempotent upsert
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$stateDir/parents_z5")
      .select(col("block"),
        rq_summary_stats(col("band_2"), ds.meta, "band_2").as("s"))
      .select(col("block"), col("s.count").as("n_px"), col("s.sum").as("vsum"))
  }

  /** Multi-level twin of q114: the same three micro-batches maintain the
    * WHOLE overview stack z5→z3 — per batch the touched set shrinks ×4
    * per level, and each level feeds the next. Final state across all
    * three levels must equal the from-scratch pyramid (the q24 closed form
    * for zooms 3..5). */
  def q116StreamPyramidDeep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = RaquetIO.read(spark, Fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"), col("band_1"), col("band_2"))
      .as[(Long, Array[Byte], Array[Byte])].collect()
    val (b1, b2) = native.partition(_._1 % 3 == 0)
    val stateDir = s"${System.getProperty("java.io.tmpdir")}/graft_q116/state"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(stateDir))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte], Array[Byte])]
    val q = graft.streaming.StreamingTiles.incrementalPyramid(
      input.toDF().toDF("block", "band_1", "band_2"), ds.meta, stateDir,
      parentZoom = 5, minZoom = 3)
    try {
      input.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b1.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    (3 to 5).map(z => spark.read.parquet(s"$stateDir/parents_z$z"))
      .reduce(_ unionByName _)
      .select(col("block"),
        quadbin_zoom(col("block")).cast("long").as("zoom"),
        rq_summary_stats(col("band_2"), ds.meta, "band_2").as("s"))
      .select(col("block"), col("zoom"), col("s.count").as("n_px"),
        col("s.sum").as("vsum"))
  }

  /** EXACT zonal percentiles (zonal median & friends) — the composition of
    * the zonal join and the mergeable-histogram machinery: per (tile,
    * zone) clip-histograms (containsBox fast path for interior tiles),
    * element-wise sums per zone, a per-zone cumulative window over ≤256
    * rows, and the integer percentile rule. No pixel sort anywhere; cost
    * is one pruned scan + a hash agg whose output is bounded by
    * zones × buckets regardless of raster size. */
  /** Per-(zone, DN-class) pixel counts from the clip-histogram kernel —
    * the shared base of [[zonalPercentiles]] and [[zonalMajority]]: one
    * decode per tile no matter how many zones overlap it (zone list
    * collected per cell, multi-zone kernel post-join), per-(tile, zone)
    * histograms merged in one hash aggregate; no pixel list ever
    * shuffles. */
  private def zonalDnCounts(data: DataFrame, meta: graft.raquet.RaquetMetadata,
      band: String, zones: DataFrame, histMin: Double, histMax: Double,
      buckets: Int): DataFrame = {
    val z = meta.maxZoom
    val cells = zones
      .select(col("zone_id").cast("long").as("zid"), col("wkt"),
        explode(st_polyfill_col(col("wkt"), lit(z))).as("cell"))
      .groupBy("cell")
      .agg(collect_list(struct(col("zid"), col("wkt"))).as("zs"))
    data
      .filter(col("block") =!= 0L && quadbin_zoom(col("block")) === z)
      .join(broadcast(cells), col("block") === col("cell"))
      .select(explode(rq_zonal_histograms(col(band), col("block"), col("zs"),
        meta, band, histMin, histMax, buckets)).as("zh"))
      .select(col("zh.zid").as("zone_id"),
        posexplode(col("zh.h")).as(Seq("dn", "n")))
      .groupBy("zone_id", "dn").agg(sum("n").as("n"))
      .filter(col("n") > 0)
  }

  def zonalPercentiles(data: DataFrame, meta: graft.raquet.RaquetMetadata,
      band: String, zones: DataFrame, ps: Seq[Int],
      histMin: Double = -0.5, histMax: Double = 255.5,
      buckets: Int = 256): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val counts = zonalDnCounts(data, meta, band, zones, histMin, histMax,
      buckets)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("zone_id").orderBy("dn")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy("zone_id")))
    // bucket-bounded theta-join, same argument as q109's percentile pick
    cum.join(broadcast(ps.toDF("p")),
        col("cum") >= expr("(p * total + 99) div 100"))
      .groupBy(col("zone_id"), col("p").cast("long").as("p"))
      .agg(min(col("dn")).cast("long").as("v"), max("total").as("n_total"))
  }

  /** Zonal MAJORITY (the rasterstats "majority" stat) + minority + class
    * count per zone, from the same clip-histogram base as
    * [[zonalPercentiles]] — modal DN class with ties to the LOWEST DN
    * (deterministic), the least-frequent class (ties likewise), and the
    * number of distinct classes. Integer-class rasters with the default
    * unit buckets are exact. */
  def zonalMajority(data: DataFrame, meta: graft.raquet.RaquetMetadata,
      band: String, zones: DataFrame,
      histMin: Double = -0.5, histMax: Double = 255.5,
      buckets: Int = 256): DataFrame = {
    val counts = zonalDnCounts(data, meta, band, zones, histMin, histMax,
      buckets)
    val majKey = struct(col("n"), (-col("dn")).as("nd"))
    counts.groupBy("zone_id").agg(
      max_by(col("dn"), majKey).cast("long").as("majority_dn"),
      max_by(col("n"), majKey).as("n_majority"),
      min_by(col("dn"), struct(col("n"), col("dn"))).cast("long")
        .as("minority_dn"),
      count(lit(1)).as("n_classes"),
      sum("n").as("n_total"))
  }

  /** Zonal-percentile driver proof: the q100 zone table, quartiles per
    * zone; the oracle enumerates every zone pixel from the closed form
    * and applies the identical integer rule. */
  def q118ZonalMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, Fixture)
    val zones = Seq((1L, RegionWkt), (2L, FastRegionWkt), (3L, Zone3Wkt))
      .toDF("zone_id", "wkt")
    zonalPercentiles(ds.data, ds.meta, "band_1", zones, Seq(25, 50, 75))
  }

  /** q206 — zonal majority/minority/class-count over the q118 zones. */
  def q206ZonalMajority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, Fixture)
    val zones = Seq((1L, RegionWkt), (2L, FastRegionWkt), (3L, Zone3Wkt))
      .toDF("zone_id", "wkt")
    zonalMajority(ds.data, ds.meta, "band_1", zones)
  }

  /** Blocked point-in-polygon SPATIAL JOIN — never a cross join: zones
    * polyfill to quadbin cells at `zoom` (the coarse blocking stage),
    * points map to their covering cell with one codegen'd expression, an
    * equi-join on cell id prunes to candidate (point, zone) pairs, and the
    * exact `st_contains` test runs only on those. Blocking is provably
    * lossless (a containing zone's polyfill always includes the point's
    * cell); cost is linear in points + candidate pairs. */
  def pointInZoneJoin(points: DataFrame, zones: DataFrame,
      zoom: Int): DataFrame = {
    val cells = zones.select(col("zone_id"), col("wkt"),
      explode(st_polyfill_col(col("wkt"), lit(zoom))).as("cell"))
    points
      .withColumn("cell", quadbin_from_lonlat(col("lon"), col("lat"), lit(zoom)))
      .join(cells, "cell")
      .filter(st_contains(col("wkt"), col("lon"), col("lat")))
      .select(col("pid"), col("lon"), col("lat"), col("zone_id"))
  }

  /** Spatial-join driver proof: the q117 point grid against the q100
    * zones at blocking zoom 6; overlapping zones emit one row per
    * containing zone. The oracle re-derives strict rectangle containment
    * per (point, zone) pair. */
  def q119PointInZone(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val points = (0 until 200).map { pid =>
      (pid.toLong, (pid % 44).toDouble + 0.3, 22.4 + (pid % 18).toDouble)
    }.toDF("pid", "lon", "lat")
    val zones = Seq((1L, RegionWkt), (2L, FastRegionWkt), (3L, Zone3Wkt))
      .toDF("zone_id", "wkt")
    pointInZoneJoin(points, zones, zoom = 6)
  }

  /** Per-block temporal TREND over a raster time series: ordinary
    * least-squares slope + intercept of the per-tile band sum against
    * `time_cf`, from the four order-independent sufficient sums (Σx, Σy,
    * Σxy, Σx²) — one hash aggregate per block, no window, no sort, linear
    * in (block, timestep) rows at any scale. Change-detection's first
    * derivative, computed relationally. */
  def temporalTrend(data: DataFrame, meta: graft.raquet.RaquetMetadata,
      band: String): DataFrame =
    data.select(col("block"), col("time_cf"),
        rq_summary_stats(col(band), meta, band).getField("sum").as("y"))
      .groupBy("block")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("time_cf")).as("sx"), sum(col("y")).as("sy"),
        sum(col("time_cf") * col("y")).as("sxy"),
        sum(col("time_cf") * col("time_cf")).as("sxx"))
      .select(col("block"), col("n").cast("long").as("n_steps"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
          / col("n")).as("intercept"))

  /** Generic map-algebra driver proof: band_2 − band_1 over PHYSICAL
    * values through `rq_band_math` (the ND family generalized to
    * add/sub/mul/div/min/max); nodata propagates as NaN and drops from
    * the per-tile aggregates. All arithmetic dyadic-exact. */
  def q123BandMath(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"),
        explode(rq_band_math(col("band_2"), col("band_1"), ds.meta,
          "band_2", "band_1", "sub")).as("v"))
      .filter(!isnan(col("v")))
      .groupBy("block")
      .agg(count(lit(1)).as("n_valid"), sum("v").as("vsum"),
        min("v").as("vmin"), max("v").as("vmax"))
  }

  /** Fused twin of q123 (the q23/q59 pairing generalized): ONE pass per
    * tile, no intermediate array, no explode — the plan every scale
    * band-math query should use. Shares q123's oracle: fused ≡ per-pixel
    * ≡ closed form. */
  def q124BandMathStats(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, Fixture)
    ds.data.filter(quadbin_zoom(col("block")) === 6)
      .select(col("block"),
        rq_band_math_stats(col("band_2"), col("band_1"), ds.meta,
          "band_2", "band_1", "sub").as("s"))
      .select(col("block"), col("s.count").as("n_valid"),
        col("s.sum").as("vsum"), col("s.min").as("vmin"),
        col("s.max").as("vmax"))
  }

  /** PER-PIXEL temporal trend — the raster-out change-detection product
    * (trend maps): each block's timesteps collect into a sorted series
    * (one hash agg) and the fit kernel produces slope/intercept blobs
    * post-aggregation, fully parallel; `x` supplies the regressor (step
    * index, epoch days, …). */
  def temporalTrendPixels(data: DataFrame, meta: graft.raquet.RaquetMetadata,
      band: String, x: org.apache.spark.sql.Column): DataFrame =
    data.select(col("block"), struct(x.as("x"), col(band).as("b")).as("s"))
      .groupBy("block")
      .agg(sort_array(collect_list(col("s"))).as("series"))
      .select(col("block"), rq_temporal_fit(col("series"), meta, band).as("fit"))

  /** Per-pixel trend driver proof: with the step index as regressor every
    * quantity stays dyadic-exact — slope is exactly 16 for every pixel
    * and each pixel's intercept recovers its t=0 value, so the per-block
    * intercept sum is block-discriminating and bit-exact. */
  def q122TsTrendPixels(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    temporalTrendPixels(ds.data, ds.meta, "band_1", col("time_cf") / 1440.0)
      .select(col("block"),
        size(col("fit.slope")).cast("long").as("n_px"),
        array_min(col("fit.slope")).as("slope_min"),
        array_max(col("fit.slope")).as("slope_max"),
        expr("aggregate(fit.intercept, CAST(0.0 AS DOUBLE), (a, v) -> a + v)")
          .as("icpt_sum"))
  }

  /** Trend driver proof: the time fixture's per-tile sums are exactly
    * linear in time (vT adds 16 per pixel per step ⇒ slope 4096/1440 per
    * minute for every block), and the intercept recovers each block's
    * t=0 spatial sum — block-discriminating. All sufficient sums are
    * exact dyadic doubles, so slope/intercept are bit-identical across
    * engines with no rounding. */
  def q121TsTrend(spark: SparkSession, dir: String): DataFrame = {
    val ds = RaquetIO.read(spark, FixtureTime)
    temporalTrend(ds.data, ds.meta, "band_1")
  }

  /** Sample a raster at a TABLE of points — the drive-by labeling shape
    * (attach a raster covariate to every training example). Each point
    * maps to its covering native tile via the codegen'd
    * `quadbin_from_lonlat`, the join is a plain equi-join on cell id
    * (points ≪ raster → broadcast; at scale both sides co-partition on
    * the cell), and `rq_raster_value` reads one pixel per row. Never a
    * cross join, never a full decode. */
  def sampleAtPoints(ds: RaquetIO.RaquetDataset, points: DataFrame,
      band: String): DataFrame = {
    val z = ds.meta.maxZoom
    val p = points.withColumn("cell",
      quadbin_from_lonlat(col("lon"), col("lat"), lit(z)))
    ds.data.join(broadcast(p), col("block") === col("cell"))
      .select(col("pid"), col("lon"), col("lat"),
        rq_raster_value(col(band), col("block"), col("lon"), col("lat"),
          ds.meta, band).as("v"))
  }

  /** Point-sampling driver proof: 200 deterministic points across the
    * fixture extent (offsets .3/.4 keep every point ~30% of a pixel away
    * from any pixel boundary, so engine/oracle floor math cannot
    * disagree); the oracle recomputes each point's pixel via the forward
    * mercator closed form and its value via V1, nodata → NULL. */
  def q117SamplePoints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = RaquetIO.read(spark, Fixture)
    val points = (0 until 200).map { pid =>
      (pid.toLong, (pid % 44).toDouble + 0.3, 22.4 + (pid % 18).toDouble)
    }.toDF("pid", "lon", "lat")
    sampleAtPoints(ds, points, "band_1")
      .select(col("pid"), col("lon"), col("lat"), col("v").cast("long").as("v"))
  }

  /** Streaming tile-cache driver proof ([[graft.sources.TileCache
    * .incremental]]): the fixture's 85 tiles arrive over three
    * micro-batches — the third RE-SENDS a subset (overwrite-in-place) —
    * and the final z/x/y tree must equal a full export, verified by the
    * same re-decode + closed-form oracle as q111. */
  def q125StreamTileCache(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = RaquetIO.read(spark, Fixture)
    val rows = ds.data.select(col("block"), col("band_1"), col("band_2"))
      .as[(Long, Array[Byte], Array[Byte])].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q125/tiles"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(tmp))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte], Array[Byte])]
    val q = graft.sources.TileCache.incremental(
      input.toDF().toDF("block", "band_1", "band_2"), ds.meta, tmp)
    try {
      input.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b1.take(10).toIndexedSeq) // idempotent overwrite
      q.processAllAvailable()
    } finally q.stop()
    val out = for {
      xd <- new java.io.File(s"$tmp/6").listFiles.toSeq.sortBy(_.getName)
      yf <- xd.listFiles.toSeq.sortBy(_.getName)
    } yield {
      val img = javax.imageio.ImageIO.read(yf)
      var sum = 0L; var opaque = 0L; var transparent = 0L
      for (j <- 0 until img.getHeight; i <- 0 until img.getWidth) {
        val argb = img.getRGB(i, j)
        if ((argb >>> 24) == 0) transparent += 1
        else { sum += argb & 0xFF; opaque += 1 }
      }
      val (x, y) = (xd.getName.toLong, yf.getName.stripSuffix(".png").toLong)
      (Quadbin.tileToCell(x, y, 6), opaque, transparent, sum)
    }
    out.toDF("block", "n_opaque", "n_transparent", "gray_sum")
  }

  /** S6 (rotated-pole CRS) driver proof: a CF `rotated_latitude_longitude`
    * grid (CORDEX EUR pole 39.25N/-162E, the COSMO public convention —
    * `graft.geo.RotatedPole`) converts end to end, and the rotation itself
    * is oracle-verified: the query reports, per probe, the true lon/lat our
    * projection assigns to the probe's ROTATED coordinates, and the DuckDB
    * oracle re-derives them from the public spherical-trig formulas
    * independently (asin/atan2 in SQL), rounded to 1e-5 degrees — far above
    * the ~1e-12 cross-libm noise, far below the 0.25-degree grid step.
    *
    * Value safety: source values are constant on 8x8 source patches
    * (2 degrees square) and probes sit at patch centers, so the
    * nearest-neighbor warp (target pixel ~0.176 degrees at native z3) cannot
    * land a probe's covering pixel in a neighboring patch. */
  def q104RotatedPole(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q104"
    new java.io.File(tmp).mkdirs()
    val nc = s"$tmp/rot.nc"
    val rlats = Array.tabulate(64)(j => 8.0 - 0.25 * (j + 0.5))
    val rlons = Array.tabulate(64)(i => -8.0 + 0.25 * (i + 0.5))
    graft.raquet.NetCdfWriter.write(nc, rlats, rlons, Array(0.0),
      "days since 2006-01-01", -9999f,
      (_, j, i) => ((j / 8) * 8 + i / 8).toFloat,
      rotatedPole = Some((39.25, -162.0)))
    val out = s"$tmp/rot.parquet"
    val meta = graft.raquet.NetCdf.convert(spark, nc, out, overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.RotatedPole(39.25, -162.0)
    val probes = for (bj <- 1 until 8 by 2; bi <- 1 until 8 by 2) yield {
      val (j, i) = (bj * 8 + 4, bi * 8 + 4)
      val (lon, lat) = proj.toLonLat(rlons(i), rlats(j))
      (bi.toLong, bj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("bi", "bj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("bi"), col("bj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (HDF4 / HDF-EOS2, the MODIS archive container) driver proof: a
    * synthetic MODIS-shaped sinusoidal grid (`GCTP_SNSOID`, authalic
    * sphere R=6371007.181, 1-km cells) written as chunked+deflate int16
    * SDS ([[graft.raquet.Hdf4Writer]]) and converted through
    * [[graft.raquet.Hdf4.convert]]. The q150 patch/probe pattern: values
    * constant on 16×16-cell patches, probes at patch centers, and the
    * oracle re-derives each probe's geographic position via the
    * closed-form SPHERICAL sinusoidal inverse (Snyder 30-6/30-7:
    * φ = y/R, λ = λ0 + x/(R·cos φ)) rounded to 1e-5°. */
  def q184Hdf4Modis(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q184"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/mod.hdf"
    val (ny, nx) = (128, 128)
    val cell = 926.625433055556
    // the h11v05-adjacent corner of the MODIS land grid (mid-latitude)
    val ulx = -8895604.157333
    val uly = 4447802.078667
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "MOD_Grid_Q184",
      Seq(graft.raquet.Hdf4Writer.Field("ndvi", 22, ny, nx,
        (j, i) => ((j / 16) * 8 + i / 16).toDouble,
        layout = "chunked-deflate", chunkY = 48, chunkX = 40,
        fill = Some(-3000),
        // no scale_factor: rq_raster_value reports PHYSICAL values, and
        // the probe oracle pins raw patch ids (scale decode is spec-level:
        // Hdf4Spec "sinusoidal chunked-deflate int16")
        attrs = Seq(graft.raquet.Hdf4Writer.shortAttr("_FillValue", -3000)))),
      ulx, uly, ulx + nx * cell, uly - ny * cell, projection = "snsoid"))
    val out = s"$tmp/mod.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out, overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    require(meta.bands.head.nodata.contains(-3000.0),
      s"fill attribute lost: ${meta.bands.head.nodata}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.Sinusoidal(6371007.181, 0.0, 0.0, 0.0, 0.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = ulx + (16 * pi + 8) * cell
      val yc = uly - (16 * pj + 8) * cell
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (HDF4, GEO grid + RLE chunks) driver proof: the q82 world grid
    * (512×240 at 0.703125°, pair-constant columns, nodata at p%27 pairs)
    * written as a `GCTP_GEO` HDF-EOS grid — corners in packed GCTP DMS —
    * with chunked+RLE uint8 data in chunk extents that do NOT divide the
    * grid (edge-chunk stitching on both axes), converted with
    * `overviews=none`; per-tile stats against a closed-form z1 oracle. */
  def q185Hdf4Rle(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q185"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/cmg.hdf"
    val d2 = graft.raquet.Hdf4Writer.degToDms _
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "CMG_Q185",
      Seq(graft.raquet.Hdf4Writer.Field("refl", 21, 240, 512,
        (_, i) => { val p = i >> 1; if (p % 27 == 0) 255 else 3 * p % 251 },
        layout = "chunked-rle", chunkY = 52, chunkX = 48, fill = Some(255),
        attrs = Seq(graft.raquet.Hdf4Writer.Attr("_FillValue", 21, 1,
          Array(255.toByte))))),
      d2(-180.0), d2(84.375), d2(180.0), d2(-84.375), projection = "geo"))
    val out = s"$tmp/cmg.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out,
      tileStats = true, overviews = "none")
    require(meta.maxZoom == 1, s"unexpected maxZoom ${meta.maxZoom}")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (HDF4 LINKED-BLOCK elements, spec §10.1) driver proof: the q185
    * world grid stored as an uncompressed SPECIAL_LINKED element — a
    * 3,000-byte first block, 7,000-byte successive blocks (deliberately
    * not row-aligned) chained through 4-entry block tables — the layout
    * older NASA products (SeaWiFS, early MODIS collections) ship.
    * Identical closed-form z1 stats oracle as q185: the storage layout
    * must be invisible to the pixels. Ref: HDF 4.2 spec §10.1
    * (`hblocks.c` semantics). */
  def q190Hdf4Linked(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q190"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/linked.hdf"
    val d2 = graft.raquet.Hdf4Writer.degToDms _
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "CMG_Q190",
      Seq(graft.raquet.Hdf4Writer.Field("refl", 21, 240, 512,
        (_, i) => { val p = i >> 1; if (p % 27 == 0) 255 else 3 * p % 251 },
        layout = "plain-linked", linkFirst = 3000, linkBlk = 7000,
        linkPerTable = 4,
        attrs = Seq(graft.raquet.Hdf4Writer.Attr("_FillValue", 21, 1,
          Array(255.toByte))))),
      d2(-180.0), d2(84.375), d2(180.0), d2(-84.375), projection = "geo"))
    val out = s"$tmp/linked.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out,
      tileStats = true, overviews = "none")
    require(meta.maxZoom == 1, s"unexpected maxZoom ${meta.maxZoom}")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (HDF4 EXTERNAL elements, spec §10.4) driver proof: the q185 world
    * grid whose SDS data lives in a COMPANION FILE at a non-zero byte
    * offset, referenced by a SPECIAL_EXT description record — executors
    * resolve and range-read the external file directly. Same closed-form
    * oracle as q185/q190. */
  def q191Hdf4External(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q191"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/extmain.hdf"
    val d2 = graft.raquet.Hdf4Writer.degToDms _
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "CMG_Q191",
      Seq(graft.raquet.Hdf4Writer.Field("refl", 21, 240, 512,
        (_, i) => { val p = i >> 1; if (p % 27 == 0) 255 else 3 * p % 251 },
        layout = "external", extFile = "q191_payload.dat", extOffset = 512,
        attrs = Seq(graft.raquet.Hdf4Writer.Attr("_FillValue", 21, 1,
          Array(255.toByte))))),
      d2(-180.0), d2(84.375), d2(180.0), d2(-84.375), projection = "geo"))
    val out = s"$tmp/ext.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out,
      tileStats = true, overviews = "none")
    require(meta.maxZoom == 1, s"unexpected maxZoom ${meta.maxZoom}")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** F (JPEG 2000 irreversible 9/7, ISO 15444-1 Annex F.4.8 + Annex E
    * scalar-expounded quantization) driver proof: a 256x192 integer field
    * (pure integer closed form — exact in both engines) encodes through
    * the in-engine 9/7 encoder at a genuinely lossy step
    * (coarseBits=2, mant=512 → delta = 5 in the LL), decodes back, and
    * every 32x32 patch must sit within the quantization error bound while
    * the patch source sums re-derive closed-form in the oracle. The
    * distributed per-file decode path is q183's transcodeFiles; this entry
    * pins the lossy codec itself. */
  def q192Jp2kLossy(spark: SparkSession, dir: String): DataFrame = {
    val (w, h) = (256, 192)
    def f(x: Int, y: Int): Int = 1200 + (x * x * 7 + y * y * 5 + x * y * 3) % 801
    val src = Array.tabulate(w * h)(k => f(k % w, k / w))
    val cs = graft.raquet.Jpeg2000.encode97(Array(src), w, h, 12,
      levels = 4, coarseBits = 2, mant = 512)
    val dec = graft.raquet.Jpeg2000.decode(cs, "q192").xs
    import spark.implicits._
    val rows = (0 until w * h).map { k =>
      val x = k % w; val y = k / w
      ((y / 32).toLong * 8 + x / 32,
        math.abs(dec(k) - src(k)).toLong, f(x, y).toLong)
    }
    rows.toDF("patch", "abs_err", "src")
      .groupBy(col("patch"))
      .agg(count(lit(1)).as("n_px"),
        (max(col("abs_err")) <= 30L).as("bounded"),
        sum(col("src")).as("src_sum"))
  }

  /** S6 (HDF-EOS2 GCTP_PS — the NSIDC sea-ice / polar product grid shape)
    * driver proof: a 128x128 / 25 km north-polar-stereographic HDF-EOS
    * grid (spherical R = 6371229, true at 70N, orientation -45E) aligned
    * so the q151 GRIB template-3.20 probes land on pixel centers — the
    * SAME closed-form Snyder §21 oracle re-derives every probe. A wrong
    * GCTP parameter mapping (lon0/latTs swap, DMS mis-decode, ellipsoid
    * misread) shifts every probe. */
  def q193Hdf4Polar(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q193"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/ps.hdf"
    val d2 = graft.raquet.Hdf4Writer.degToDms _
    val proj = graft.geo.PolarStereographic(6371229.0,
      Double.PositiveInfinity, 70.0, -45.0, 0.0, 0.0)
    val (x1, y1) = proj.fromLonLat(10.0, 60.0)
    val cell = 25000.0
    val n = 128
    // pixel center (i, jf) at (x1 + i·cell, y1 + (127 − jf)·cell): the
    // q151 oracle probes (xc = x1 + (16·pi + 7.5)·cell, yc = y1 +
    // (119.5 − 16·pj)·cell) land at i = 16·pi + 7.5, jf = 16·pj + 7.5 —
    // mid-patch on both axes, exactly like the GRIB twin
    val ulx = x1 - 0.5 * cell
    val uly = y1 + 127.5 * cell
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "PS_Q193",
      Seq(graft.raquet.Hdf4Writer.Field("ice", 21, n, n,
        (jf, i) => ((jf / 16) * 8 + i / 16).toDouble,
        layout = "chunked-deflate", chunkY = 48, chunkX = 40)),
      ulx, uly, ulx + n * cell, uly - n * cell,
      projection = "GCTP_PS",
      projParams = Seq(6371229.0, 0, 0, 0, d2(-45.0), d2(70.0), 0, 0)))
    val out = s"$tmp/ps.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out, overviews = "none")
    val ds = RaquetIO.read(spark, out)
    val probes = for (pj <- Seq(1L, 3L, 5L, 7L); pi <- Seq(1L, 3L, 5L, 7L)) yield {
      val xc = x1 + (16 * pi + 7.5) * cell
      val yc = y1 + (119.5 - 16 * pj) * cell
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi, pj, lon, lat, Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (HDF-EOS2 SWATH — the MODIS L1B/L2 unprojected product shape)
    * driver proof: a 512x512 swath whose geolocation arrays place every
    * source pixel EXACTLY on a zoom-1 target pixel center (latitude rows
    * are the inverse-gudermannian of the target rows, longitudes the
    * column centers), converted through the geolocation scatter
    * (broadcast geo arrays, per-partition tile buffers, one min-distance
    * reduceByKey). Alignment makes the warp the identity: per-tile counts
    * and stats re-derive closed-form from the pure-integer column value
    * formula. Any geolocation misread, interpolation slip, off-by-half or
    * dropped scatter shifts counts or sums. */
  def q194Hdf4Swath(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q194"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/swath.hdf"
    val n = 512
    def fOf(i: Int): Double = ((3 * (i >> 1)) % 251).toDouble
    def latOf(jf: Double): Double = math.toDegrees(
      math.atan(math.sinh(math.Pi * (1.0 - 2.0 * (jf + 0.5) / 512.0))))
    def lonOf(i: Double): Double = -180.0 + (i + 0.5) * 360.0 / 512.0
    graft.raquet.Hdf4Writer.writeSwath(hdf, graft.raquet.Hdf4Writer.Swath(
      "Q194",
      dataFields = Seq(graft.raquet.Hdf4Writer.Field("sst", 21, n, n,
        (j, i) => fOf(i), layout = "chunked-deflate", chunkY = 64,
        chunkX = 128,
        attrs = Seq(graft.raquet.Hdf4Writer.Attr("_FillValue", 21, 1,
          Array(255.toByte))))),
      lat = graft.raquet.Hdf4Writer.Field("Latitude", 6, n, n,
        (j, _) => latOf(j), layout = "plain"),
      lon = graft.raquet.Hdf4Writer.Field("Longitude", 6, n, n,
        (_, i) => lonOf(i), layout = "plain")))
    val out = s"$tmp/swath.parquet"
    val meta = graft.raquet.Hdf4Swath.convert(spark, hdf, out,
      zoomOverride = Some(1), tileStats = true, overviews = "none")
    require(meta.numBlocks == 4, s"expected 4 tiles, got ${meta.numBlocks}")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** F11/S-interop (GeoParquet 1.x) driver proof: 60 closed-form
    * rectangles write as GeoParquet (WKB geometry column + the `geo`
    * footer key-value entry stamped per part file), read back through the
    * footer parse + `st_geom_from_wkb` bridge, and planar measures
    * re-derive exactly in the oracle — a wrong primary-column pick, WKB
    * byte-order slip or footer mis-stamp breaks every row. */
  def q195GeoParquet(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q195"
    new java.io.File(tmp).mkdirs()
    import spark.implicits._
    val feats = (0 until 60).map { id =>
      val x0 = (id % 10) * 3.0; val y0 = (id / 10) * 2.0
      val w = 1.0 + id % 4; val h = 1.0 + id % 3
      (id.toLong, s"POLYGON(($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, " +
        s"$x0 ${y0 + h}, $x0 $y0))")
    }.toDF("id", "wkt")
    val path = s"$tmp/features.parquet"
    graft.sources.GeoParquet.write(feats, path, "wkt")
    val (gdf, gi) = graft.sources.GeoParquet.read(spark, path)
    require(gi.primaryColumn == "geometry" && gi.encoding == "WKB",
      s"unexpected geo metadata $gi")
    gdf.select(col("id"),
      st_area(col("geometry_wkt")).cast("double").as("area"),
      st_perimeter(col("geometry_wkt")).cast("double").as("perim"),
      round(st_centroid(col("geometry_wkt")).getField("x"), 6).as("cx"),
      round(st_centroid(col("geometry_wkt")).getField("y"), 6).as("cy"))
  }

  /** S6/M7 (HDF4 multi-field workflow) driver proof: TWO data fields of
    * the q184 MODIS grid — different pixel formulas AND different chunk
    * layouts (deflate vs RLE) — converted through
    * [[graft.raquet.Hdf4.convertFields]] into ONE multi-band raquet via
    * the [[graft.raquet.BandStack]] block equi-join. The q184 probe oracle
    * extended with the second band: both bands must land on their own
    * closed-form patch values at identical probe positions. */
  def q186Hdf4Fields(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q186"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/mod.hdf"
    val (ny, nx) = (128, 128)
    val cell = 926.625433055556
    val ulx = -8895604.157333
    val uly = 4447802.078667
    def patch(j: Int, i: Int): Double = ((j / 16) * 8 + i / 16).toDouble
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "MOD_Grid_Q186",
      Seq(
        graft.raquet.Hdf4Writer.Field("ndvi", 22, ny, nx, patch,
          layout = "chunked-deflate", chunkY = 48, chunkX = 40,
          fill = Some(-3000),
          attrs = Seq(graft.raquet.Hdf4Writer.shortAttr("_FillValue", -3000))),
        graft.raquet.Hdf4Writer.Field("evi", 22, ny, nx,
          (j, i) => 77.0 - patch(j, i),
          layout = "chunked-rle", chunkY = 32, chunkX = 56,
          fill = Some(-3000),
          attrs = Seq(graft.raquet.Hdf4Writer.shortAttr("_FillValue", -3000)))),
      ulx, uly, ulx + nx * cell, uly - ny * cell, projection = "snsoid"))
    val out = s"$tmp/mod.parquet"
    val meta = graft.raquet.Hdf4.convertFields(spark, hdf, out,
      overviews = "none")
    require(meta.bands.map(_.name) == Seq("band_1", "band_2"),
      s"unexpected bands ${meta.bands.map(_.name)}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.Sinusoidal(6371007.181, 0.0, 0.0, 0.0, 0.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = ulx + (16 * pi + 8) * cell
      val yc = uly - (16 * pj + 8) * cell
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v1"),
        rq_raster_value(col("band_2"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_2").cast("long").as("v2"))
  }

  /** S6 (GRIB2 cluster statistical templates 4.13/4.14) driver proof: the
    * q180 pattern with the CLUSTER products — the end-of-interval septet
    * sits after a VARIABLE-length member list (57+N / 53+N, N = octet
    * 36), so a fixed-offset reader would decode garbage dates. Timesteps
    * alternate 4.13/4.14/4.13; the q79 oracle pins the 6-hourly axis and
    * every statistic. */
  def q187GribCluster(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q187"
    new java.io.File(tmp).mkdirs()
    val gribPath = s"$tmp/synth.grib2"
    val sec3 = graft.raquet.Grib2Writer.sec3LatLon(512, 240,
      basicAngle = 1, subdiv = 128,
      la1 = (84.0234375 * 128).round, lo1 = (180.3515625 * 128).round,
      di = 90, dj = 90)
    val fos = new java.io.FileOutputStream(gribPath)
    try (0 until 3).foreach { ti =>
      val values = Array.tabulate[Option[Int]](240 * 512) { k =>
        val p = (k % 512) >> 1
        if (p % 27 == 0) None else Some((3 * p + 7 * ti) % 251)
      }
      fos.write(graft.raquet.Grib2Writer.messageWithSec3(sec3, (2000, 1, 1, 0),
        graft.raquet.Grib2Writer.Plane(0, values), nbits = 8,
        packing = "simple", 0, 0, 0,
        statEndOfInterval = Some((2000, 1, 1, 6 * ti)),
        statTemplate = if (ti == 1) 14 else 13))
    } finally fos.close()
    val out = s"$tmp/synth.parquet"
    val meta = graft.raquet.Grib2.convert(spark, gribPath, out,
      tileStats = true, overviews = "auto")
    require(meta.maxZoom == 1 && meta.minZoom == 0,
      s"unexpected zoom range [${meta.minZoom}, ${meta.maxZoom}]")
    val ds = RaquetIO.read(spark, out)
    ds.data.select(col("block"),
      quadbin_zoom(col("block")).cast("long").as("zoom"),
      col("time_cf"),
      unix_micros(col("time_ts")).as("ts_us"),
      col("band_1_count").as("n_px"),
      col("band_1_min").cast("long").as("px_min"),
      col("band_1_max").cast("long").as("px_max"),
      col("band_1_sum").cast("long").as("px_sum"),
      rq_summary_stats(col("band_1"), ds.meta, "band_1")
        .getField("sum").cast("long").as("dec_sum"))
  }

  /** S6 (HDF4 rank-3 `(time, y, x)` SDS) driver proof: the q184 sinusoidal
    * grid with THREE timesteps in one chunked SDS (chunk extent 1 along
    * time, libhdf4's shape) — each timestep converts to its own
    * `(block, time_cf)` rows, probed per timestep with t-dependent patch
    * values (v = patch + 16·t). */
  def q188Hdf4Time(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q188"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/mod3.hdf"
    val (nt, ny, nx) = (3, 128, 128)
    val cell = 926.625433055556
    val ulx = -8895604.157333
    val uly = 4447802.078667
    graft.raquet.Hdf4Writer.write(hdf, graft.raquet.Hdf4Writer.Grid(
      "MOD_Grid_Q188",
      Seq(graft.raquet.Hdf4Writer.Field("ndvi", 22, ny, nx, (_, _) => 0.0,
        layout = "chunked-deflate", chunkY = 48, chunkX = 40,
        fill = Some(-3000), nt = nt,
        tvalues = (t, j, i) => ((j / 16) * 8 + i / 16 + 16 * t).toDouble,
        attrs = Seq(graft.raquet.Hdf4Writer.shortAttr("_FillValue", -3000)))),
      ulx, uly, ulx + nx * cell, uly - ny * cell, projection = "snsoid"))
    val out = s"$tmp/mod3.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out, overviews = "none")
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.Sinusoidal(6371007.181, 0.0, 0.0, 0.0, 0.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = ulx + (16 * pi + 8) * cell
      val yc = uly - (16 * pj + 8) * cell
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"), col("time_cf"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }

  /** S6 (HDF4 multi-GRID container — the MOD09GA 500 m + 1 km shape)
    * driver proof: one file carries TWO HDF-EOS grids with different
    * geotransforms; converting a field of the SECOND (1 km) grid must
    * georeference with THAT grid's cell size — a reader that associates
    * fields with the wrong grid lands every probe on the wrong patch.
    * Same q184 probe oracle: the 1 km fixture grid reuses q184's exact
    * corner and cell so the closed-form sinusoidal inverse is shared. */
  def q189Hdf4MultiGrid(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_q189"
    new java.io.File(tmp).mkdirs()
    val hdf = s"$tmp/mod09.hdf"
    val cell = 926.625433055556
    val ulx = -8895604.157333
    val uly = 4447802.078667
    val g500 = graft.raquet.Hdf4Writer.Grid("MODIS_Grid_500m",
      Seq(graft.raquet.Hdf4Writer.Field("sur_refl_500m", 22, 256, 256,
        (j, i) => ((3 * i + 5 * j) % 1000).toDouble,
        layout = "chunked-deflate", chunkY = 128, chunkX = 128)),
      ulx, uly, ulx + 256 * cell / 2, uly - 256 * cell / 2,
      projection = "snsoid")
    val g1km = graft.raquet.Hdf4Writer.Grid("MODIS_Grid_1km",
      Seq(graft.raquet.Hdf4Writer.Field("ndvi_1km", 22, 128, 128,
        (j, i) => ((j / 16) * 8 + i / 16).toDouble,
        layout = "chunked-rle", chunkY = 48, chunkX = 40,
        fill = Some(-3000),
        attrs = Seq(graft.raquet.Hdf4Writer.shortAttr("_FillValue", -3000)))),
      ulx, uly, ulx + 128 * cell, uly - 128 * cell, projection = "snsoid")
    graft.raquet.Hdf4Writer.writeGrids(hdf, Seq(g500, g1km))
    val out = s"$tmp/mod09.parquet"
    val meta = graft.raquet.Hdf4.convert(spark, hdf, out,
      overviews = "none", field = Some("ndvi_1km"))
    require(meta.crs == "EPSG:3857", s"unexpected CRS ${meta.crs}")
    val ds = RaquetIO.read(spark, out)
    val proj = graft.geo.Sinusoidal(6371007.181, 0.0, 0.0, 0.0, 0.0)
    val probes = for (pj <- 1 until 8 by 2; pi <- 1 until 8 by 2) yield {
      val xc = ulx + (16 * pi + 8) * cell
      val yc = uly - (16 * pj + 8) * cell
      val (lon, lat) = proj.toLonLat(xc, yc)
      (pi.toLong, pj.toLong, lon, lat,
        Quadbin.fromLonLat(lon, lat, meta.maxZoom))
    }
    import spark.implicits._
    val pdf = probes.toDF("pi", "pj", "lon", "lat", "cell")
    ds.data.join(broadcast(pdf), col("block") === col("cell"))
      .select(col("pi"), col("pj"),
        round(col("lon"), 5).as("lon_r"), round(col("lat"), 5).as("lat_r"),
        rq_raster_value(col("band_1"), col("block"), col("lon"), col("lat"),
          ds.meta, "band_1").cast("long").as("v"))
  }
}
