package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.BandKernel

/** Scattered-point → raster interpolation (the `gdal_grid` tool family;
  * reference reach: GDAL delegation in `raquet/raster2raquet.py` — the
  * reference converts rasters GDAL already gridded; this engine grids
  * natively). Points live in GLOBAL zoom-z pixel coordinates — the same
  * integer frame as the focal/chamfer kernels — so every distance is an
  * exact integer and the whole operator is oracle-replayable. */
object Gridding {

  /** IDW gridding (`gdal_grid -a invdist:power=2:radius=R`): each output
    * pixel is the 1/d²-weighted mean of the points within `radius` pixels
    * (Euclidean, d² exact integer); an exact coordinate hit returns that
    * point's value (gdal_grid's zero-distance rule, lowest pid wins);
    * pixels with no point in radius are NaN. Output: (block, band_1
    * float64 gzip blob) for EVERY tile of the extent
    * [x0, x0+nx) × [y0, y0+ny) at zoom z — tiles out of reach of any
    * point emit all-NaN, so the result is a complete first-class raster.
    *
    * Scale shape: each point replicates only to the ≤(2⌈R/bs⌉+1)² tiles
    * its influence square touches (explode over the covered tile range —
    * an equi-join key, never a cross join); candidates collapse to one
    * row per tile through a single hash aggregate (sort_array pins the
    * accumulation order for the deterministic IEEE chain); the per-tile
    * kernel is one codegen'd projection. 100 TB of points with a bounded
    * radius is exactly this shape — work is O(points · tiles-per-disk +
    * tiles · candidates), never O(points × pixels). Requires x0, y0 ≥ 0
    * (global pixel coords; `div` truncation == floor on non-negatives). */
  def idwGrid(points: DataFrame, z: Int, x0: Long, y0: Long, nx: Int,
      ny: Int, kernel: BandKernel, radius: Int): DataFrame =
    grid(points, z, x0, y0, nx, ny, kernel, radius)(Seq(
      "band_1" -> ((blk, pts) => rq_idw_grid(blk, pts, kernel, radius.toLong))))

  /** The rest of the `gdal_grid` algorithm family over the identical
    * candidate machinery as [[idwGrid]] — `mode` ∈ `average` (mean of the
    * in-radius points, NaN where none), `nearest` (closest point's value,
    * ties to the lowest pid via the pid-sorted array, NaN where none) and
    * `count` (the gdal_grid data-metrics point-density raster, 0 where
    * none). Same scale shape as [[idwGrid]]: replicate-to-touched-tiles
    * explode, one hash aggregate, one codegen'd per-tile kernel. */
  def statGrid(points: DataFrame, z: Int, x0: Long, y0: Long, nx: Int,
      ny: Int, kernel: BandKernel, radius: Int, mode: String): DataFrame =
    statGridBands(points, z, x0, y0, nx, ny, kernel, radius, Seq(mode))
      .withColumnRenamed(s"band_$mode", "band_1")

  /** Several gdal_grid algorithms in ONE pass — the candidate replicate +
    * per-tile aggregate runs once and each mode is one more codegen'd
    * kernel column over the shared pid-sorted array (a multi-band grid
    * raster, `band_<mode>` per requested mode). */
  def statGridBands(points: DataFrame, z: Int, x0: Long, y0: Long, nx: Int,
      ny: Int, kernel: BandKernel, radius: Int,
      modes: Seq[String]): DataFrame = {
    require(modes.nonEmpty, "at least one gdal_grid mode required")
    val bands = modes.map { mode =>
      val m = mode match {
        case "average" => 0
        case "nearest" => 1
        case "count"   => 2
        case other => throw new IllegalArgumentException(
          s"unknown gdal_grid mode '$other' (average | nearest | count)")
      }
      (s"band_$mode",
        (blk: org.apache.spark.sql.Column, pts: org.apache.spark.sql.Column)
          => rq_grid_stat(blk, pts, kernel, radius.toLong, m))
    }
    grid(points, z, x0, y0, nx, ny, kernel, radius)(bands)
  }

  /** Shared gdal_grid scaffolding: extent-tile enumeration, the
    * replicate-to-touched-tiles explode (an equi-join key, never a cross
    * join), and the per-tile pid-sorted candidate aggregate; each
    * `bands` entry is (output column name, per-tile band expression
    * builder from (block, pts)). */
  private def grid(points: DataFrame, z: Int, x0: Long, y0: Long, nx: Int,
      ny: Int, kernel: BandKernel, radius: Int)(
      bands: Seq[(String,
        (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column)]): DataFrame = {
    require(radius >= 1, s"radius must be >= 1 pixel, got $radius")
    require(x0 >= 0 && y0 >= 0, s"extent origin must be >= 0, got ($x0, $y0)")
    val bw = kernel.width; val bh = kernel.height
    val spark = points.sparkSession
    // one row per extent tile (nx·ny is the RASTER size in tiles —
    // driver-side enumeration would be fine, but range() keeps it a plan)
    val tiles = spark.range(nx.toLong * ny)
      .select(quadbin_from_tile(
        lit(x0) + expr(s"id % $nx"),
        lit(y0) + expr(s"id div $nx"),
        lit(z)).as("block"))
    // replicate each point to every tile its influence square touches,
    // clipped to the extent; points out of reach are filtered FIRST, and
    // with the clamp the filter guarantees the sequence bounds never
    // invert (px − R < (x0+nx)·bw and px + R ≥ x0·bw inside the filter)
    val inReach = points.filter(
      col("px") >= x0 * bw - radius && col("px") < (x0 + nx).toLong * bw + radius &&
      col("py") >= y0 * bh - radius && col("py") < (y0 + ny).toLong * bh + radius)
    val cand = inReach
      .withColumn("tx", explode(sequence(
        greatest(lit(x0), expr(s"(px - $radius) div $bw")),
        least(lit(x0 + nx - 1), expr(s"(px + $radius) div $bw")))))
      .withColumn("ty", explode(sequence(
        greatest(lit(y0), expr(s"(py - $radius) div $bh")),
        least(lit(y0 + ny - 1), expr(s"(py + $radius) div $bh")))))
      .select(quadbin_from_tile(col("tx"), col("ty"), lit(z)).as("block"),
        struct(col("pid"), col("px"), col("py"), col("v")).as("pt"))
      .groupBy("block")
      .agg(sort_array(collect_list(col("pt"))).as("pts"))
    val ptsCol = coalesce(col("pts"), expr(
      "CAST(array() AS ARRAY<STRUCT<pid: BIGINT, px: BIGINT, py: BIGINT, v: DOUBLE>>)"))
    tiles.join(cand, Seq("block"), "left")
      .select(col("block") +: bands.map { case (name, kernelCol) =>
        kernelCol(col("block"), ptsCol).as(name) }: _*)
  }
}
