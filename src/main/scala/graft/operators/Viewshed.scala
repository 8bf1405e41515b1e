package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.{BandKernel, RaquetMetadata}

/** Viewshed analysis (the `gdal_viewshed` tool shape; reference reach:
  * GDAL delegation in `raquet/raster2raquet.py` — the reference's users
  * run gdal_viewshed on the rasters it converts). For each observer and
  * each target pixel within a Chebyshev `radius`, decides whether the
  * target is visible: the straight sightline observer→target is sampled
  * at every intermediate lattice step and the target is visible iff no
  * sample's line-of-sight elevation angle strictly exceeds the target's.
  *
  * This is the exact per-target ("R3") formulation rather than GDAL's
  * interpolating sweep (Wang et al. 2000), and the planar model (no earth
  * curvature / refraction — gdal_viewshed's `-cc 0` shape): every decision
  * reduces to the INTEGER comparison (e_s − h_o)·n > (e_t − h_o)·k, the
  * cross-multiplied angle test along the ray's linear parameter, so a SQL
  * engine replays each verdict exactly — no trigonometry, no rounding.
  * Sample coordinates are floor(k·d/n + 0.5) — nearest lattice point on
  * the ideal line, identical IEEE arithmetic in any engine.
  *
  * Scale shape (the 100-TB story): pixel elevations come from ONE decode
  * of the tiles any observer disk touches (replicate-to-tiles semi-join,
  * the [[Gridding]] pattern); each observer's Chebyshev disk gathers
  * into one dense (2R+1)² elevation array (radius-bounded, never
  * data-dependent — ~725 KB at R=150), and ALL of that observer's O(R³)
  * sightline-sample tests run as one tight kernel loop over the array
  * ([[org.apache.spark.sql.graft.RqViewshedDisk]], the guide-§8 "decide
  * on a lightweight proxy" shape). The pre-r14 formulation materialized
  * every sample as a row into a shuffled equi-join (27M rows / 577 MB
  * shuffle at the bench's R=150) — it survives in the test sources as
  * `ViewshedSpec`'s equivalence oracle. Many observers = more disk rows,
  * the same three-stage plan. */
object Viewshed {

  /** Per-observer viewshed over the single-zoom raster `data`.
    * `observers` columns: oid (long), ox/oy (long, GLOBAL zoom-`z` pixel
    * coordinates — must sit ≥ radius from the global origin so integer
    * `div` truncation equals floor), oh (double, eye height above ground).
    * Output: (oid, gx, gy, visible) for every target pixel within the
    * Chebyshev radius ring; visible is NULL where the target (or the
    * observer's ground cell) is nodata / outside the raster — equal
    * angles do NOT block (grazing sightlines pass, GDAL's convention). */
  def viewshed(data: DataFrame, meta: RaquetMetadata, band: String,
      observers: DataFrame, z: Int, radius: Int): DataFrame =
    viewshed(data, BandKernel(meta, band), band, observers, z, radius)

  def viewshed(data: DataFrame, kernel: BandKernel, band: String,
      observers: DataFrame, z: Int, radius: Int): DataFrame = {
    require(radius >= 1, s"radius must be >= 1 pixel, got $radius")
    val pix = diskPixels(data, kernel, band, observers, z, radius)
    // gather each observer's Chebyshev disk into ONE dense-index entry
    // list: every decision joins at disk cardinality ((2R+1)² per
    // observer), and the O(R³) sample volume never becomes rows at all
    val side = 2 * radius + 1
    val entries = pix
      .join(broadcast(observers.select(col("oid"), col("ox"), col("oy"))),
        col("gx") >= col("ox") - radius && col("gx") <= col("ox") + radius &&
          col("gy") >= col("oy") - radius && col("gy") <= col("oy") + radius)
      .filter(col("e").isNotNull) // nodata cells stay NaN in the array
      .select(col("oid"),
        ((col("gy") - col("oy") + radius) * side +
          (col("gx") - col("ox") + radius)).cast("int").as("i"),
        col("e"))
      .groupBy("oid")
      .agg(collect_list(struct(col("i"), col("e"))).as("disk"))
    // LEFT: an observer whose disk touches no pixel still emits its ring
    // (all-NULL verdicts), exactly like the replaced left joins
    observers.join(entries, Seq("oid"), "left")
      .select(col("oid"), explode(rq_viewshed_disk(col("disk"), col("oh"),
        col("ox"), col("oy"), radius)).as("t"))
      .select(col("oid"), col("t.gx").as("gx"), col("t.gy").as("gy"),
        col("t.visible").as("visible"))
  }

  /** Decoded (gx, gy, e) for every pixel of every tile any observer disk
    * touches; nodata → NULL e. */
  private[graft] def diskPixels(data: DataFrame, kernel: BandKernel, band: String,
      observers: DataFrame, z: Int, radius: Int): DataFrame = {
    val bw = kernel.width; val bh = kernel.height
    val nod = kernel.nodata
    // tiles any observer disk touches — tiny per observer, broadcast semi
    val blocks = observers
      .withColumn("tx", explode(sequence(
        expr(s"(ox - $radius) div $bw"), expr(s"(ox + $radius) div $bw"))))
      .withColumn("ty", explode(sequence(
        expr(s"(oy - $radius) div $bh"), expr(s"(oy + $radius) div $bh"))))
      .select(quadbin_from_tile(col("tx"), col("ty"), lit(z)).as("block"))
      .distinct()
    data.join(broadcast(blocks), Seq("block"), "left_semi")
      .select(col("block"), posexplode(rq_decode(col(band), kernel)))
      .select(
        (quadbin_tile_x(col("block")) * bw + col("pos") % bw).as("gx"),
        (quadbin_tile_y(col("block")) * bh + expr(s"pos div $bw")).as("gy"),
        when(isnan(col("col")) || col("col") === lit(nod), lit(null))
          .otherwise(col("col")).as("e"))
  }
}
