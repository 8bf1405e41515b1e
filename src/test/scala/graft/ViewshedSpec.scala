package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Viewshed
import graft.quadbin.Quadbin
import graft.raquet.{BandKernel, FixtureGen, PixelCodec}

/** gdal_viewshed (exact R3 sightlines): a brute-force per-target replay
  * over the synthetic fixture (covers nodata targets/samples via the %31
  * speckle), and a hand-built wall raster proving occlusion, wall-top
  * visibility, the equal-angle grazing rule, non-blocking nodata samples
  * and NULL nodata targets. */
class ViewshedSpec extends SparkSpec {

  private val bs = 16

  /** The relational formulation the kernel path replaced, kept as this
    * spec's equivalence oracle: every sample coordinate and blocking
    * verdict is the same IEEE arithmetic, but it shuffles the O(R³) sample
    * table the kernel path avoids. */
  private def viewshedReference(data: DataFrame, kernel: BandKernel,
      band: String, observers: DataFrame, z: Int, radius: Int): DataFrame = {
    val pix = Viewshed.diskPixels(data, kernel, band, observers, z, radius).persist()

    // observer eye elevation: ground + oh (NULL ground → NULL verdicts)
    val obsGround = pix.join(broadcast(observers
        .select(col("ox").as("gx"), col("oy").as("gy"))),
        Seq("gx", "gy"), "left_semi")
    val obsH = observers.join(broadcast(obsGround),
        observers("ox") === obsGround("gx") &&
          observers("oy") === obsGround("gy"), "left")
      .select(observers("oid"), col("ox"), col("oy"),
        (col("e") + col("oh")).as("ho"))

    // every target offset in the Chebyshev ring, with its ground elevation
    val pixT = pix.select(col("gx").as("tx"), col("gy").as("ty"),
      col("e").as("et"))
    val tgt = obsH
      .withColumn("dx", explode(sequence(lit(-radius), lit(radius))))
      .withColumn("dy", explode(sequence(lit(-radius), lit(radius))))
      .filter(!(col("dx") === 0 && col("dy") === 0))
      .withColumn("n", greatest(abs(col("dx")), abs(col("dy"))))
      .withColumn("tx", col("ox") + col("dx"))
      .withColumn("ty", col("oy") + col("dy"))
      .join(pixT.hint("shuffle_hash"), Seq("tx", "ty"), "left")

    // intermediate sightline samples: nearest lattice point at parameter
    // k/n; the blocking test cross-multiplies the two angles' rise/run so
    // every verdict is integer-exact (nodata samples never block)
    val pixS = pix.select(col("gx").as("sx"), col("gy").as("sy"),
      col("e").as("es"))
    val blockedBy = tgt.filter(col("n") >= 2)
      .withColumn("k", explode(sequence(lit(1), col("n") - 1)))
      .withColumn("sx", col("ox") + floor(
        col("k") * col("dx") / col("n") + lit(0.5)))
      .withColumn("sy", col("oy") + floor(
        col("k") * col("dy") / col("n") + lit(0.5)))
      .join(pixS.hint("shuffle_hash"), Seq("sx", "sy"))
      .withColumn("blk", col("es").isNotNull && col("et").isNotNull &&
        col("ho").isNotNull &&
        (col("es") - col("ho")) * col("n") > (col("et") - col("ho")) * col("k"))
      .groupBy("oid", "tx", "ty")
      .agg(max(when(col("blk"), 1).otherwise(0)).as("b"))

    tgt.join(blockedBy, Seq("oid", "tx", "ty"), "left")
      .select(col("oid"), col("tx").as("gx"), col("ty").as("gy"),
        when(col("et").isNull || col("ho").isNull, lit(null))
          .otherwise(coalesce(col("b"), lit(0)) === 0).as("visible"))
  }

  /** The operator's exact model, replayed imperatively: nearest-lattice
    * samples at floor(k·d/n + 0.5), cross-multiplied angle test, nodata
    * samples never block. */
  private def brute(e: (Long, Long) => Option[Double], ox: Long, oy: Long,
      oh: Double, dx: Int, dy: Int): Option[Boolean] = {
    val n = math.max(math.abs(dx), math.abs(dy))
    val ho = e(ox, oy).map(_ + oh)
    val et = e(ox + dx, oy + dy)
    if (ho.isEmpty || et.isEmpty) return None
    val blocked = (1 until n).exists { k =>
      val sx = ox + math.floor(k.toDouble * dx / n + 0.5).toLong
      val sy = oy + math.floor(k.toDouble * dy / n + 0.5).toLong
      e(sx, sy).exists(es => (es - ho.get) * n > (et.get - ho.get) * k)
    }
    Some(!blocked)
  }

  test("viewshed matches the brute-force R3 replay over the fixture (nodata speckle included)") {
    import spark.implicits._
    val (x0, y0, z, n) = (40L, 40L, 6, 4)
    val tiles = FixtureGen.nativeTiles(spark, z, x0, y0, n, n, bs)
    val meta = FixtureGen.metadata(z, x0, y0, n, n, bs, minZoom = z,
      numBlocks = n.toLong * n)
    val (ox, oy, oh, r) = (672L, 672L, 7.0, 12)
    val obs = Seq((1L, ox, oy, oh)).toDF("oid", "ox", "oy", "oh")
    val got = Viewshed.viewshed(tiles, meta, "band_1", obs, z, r)
      .collect()
      .map(rr => (rr.getLong(1), rr.getLong(2)) ->
        (if (rr.isNullAt(3)) None else Some(rr.getBoolean(3)))).toMap
    assert(got.size == (2 * r + 1) * (2 * r + 1) - 1)
    def e(gx: Long, gy: Long): Option[Double] = {
      val v = FixtureGen.v1(gx, gy)
      if (v == FixtureGen.Band1Nodata) None else Some(v)
    }
    // the observer cell must be valid or every verdict degenerates to None
    assert(e(ox, oy).isDefined)
    var sawNull = false; var sawBlocked = false
    got.foreach { case ((gx, gy), v) =>
      val want = brute(e, ox, oy, oh, (gx - ox).toInt, (gy - oy).toInt)
      assert(v == want, s"target ($gx, $gy): got $v want $want")
      if (v.isEmpty) sawNull = true
      if (v.contains(false)) sawBlocked = true
    }
    assert(sawNull, "fixture speckle should produce NULL verdicts")
    assert(sawBlocked, "fixture relief should occlude something")
  }

  test("wall occludes; wall top visible; equal-angle grazing passes; nodata rules") {
    import spark.implicits._
    val (tx, ty, z) = (40L, 40L, 6)
    val block = Quadbin.tileToCell(tx, ty, z)
    // flat 0 ground; wall of height 50 along local x=6; a grazing target
    // at (8,8) whose angle EQUALS the wall top's; nodata at (4,5) (a
    // sightline sample) and (4,2) (a target)
    val g = Array.fill(bs * bs)(0.0)
    for (j <- 0 until bs) g(j * bs + 6) = 50.0
    g(8 * bs + 8) = 95.0
    g(5 * bs + 4) = Double.NaN
    g(2 * bs + 4) = Double.NaN
    val raw = PixelCodec.encode(g, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
    val data = Seq((block, raw)).toDF("block", "band_1")
    val kernel = BandKernel("float64", Double.NaN, bs, bs, 1.0, 0.0)
    // observer at local (4,8), eye +5 → ho = 5
    val obs = Seq((1L, tx * bs + 4, ty * bs + 8, 5.0)).toDF("oid", "ox", "oy", "oh")
    val got = Viewshed.viewshed(data, kernel, "band_1", obs, z, radius = 7)
      .collect()
      .map(rr => (rr.getLong(1) - tx * bs, rr.getLong(2) - ty * bs) ->
        (if (rr.isNullAt(3)) None else Some(rr.getBoolean(3)))).toMap
    assert(got((6L, 8L)).contains(true),  "wall top must be visible")
    assert(got((10L, 8L)).contains(false), "behind the wall must be occluded")
    // (8,8): wall sample angle (50-5)/2 vs target (95-5)/4 — equal; passes
    assert(got((8L, 8L)).contains(true), "equal-angle grazing must pass")
    // nodata target → NULL; the nodata sample at (4,5) must NOT block the
    // all-zero ray north of it (e.g. target (4,1) sees only 0-elevation)
    assert(got((4L, 2L)).isEmpty, "nodata target must be NULL")
    assert(got((4L, 1L)).contains(true), "nodata sample must not block")
    // off-raster ring targets (outside the single tile) are NULL
    assert(got((-3L, 8L)).isEmpty, "off-raster target must be NULL")
  }

  test("kernel path ≡ the relational R3 reference (row-set equality, multi-observer)") {
    import spark.implicits._
    val (x0, y0, z, n) = (40L, 40L, 6, 4)
    val tiles = FixtureGen.nativeTiles(spark, z, x0, y0, n, n, bs)
    val meta = FixtureGen.metadata(z, x0, y0, n, n, bs, minZoom = z,
      numBlocks = n.toLong * n)
    // two in-raster observers (nodata speckle in range), one whose disk
    // hangs off the raster edge, one entirely OFF-raster (null everything,
    // rows still emitted), mixed radii-relevant eye heights
    val obs = Seq(
      (1L, 672L, 672L, 7.0),
      (2L, 660L, 680L, 0.5),
      (3L, 40L * bs + 2, 40L * bs + 2, 3.0),
      (4L, 10L, 10L, 5.0)).toDF("oid", "ox", "oy", "oh")
    val kernel = BandKernel(meta, "band_1")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getBoolean(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val got = canon(Viewshed.viewshed(tiles, meta, "band_1", obs, z, 12))
    val want = canon(viewshedReference(tiles, kernel, "band_1",
      obs, z, 12))
    assert(got == want)
    // the off-raster observer really exercises the null-disk branch
    assert(got.count(t => t._1 == 4L) == 25 * 25 - 1)
    assert(got.filter(_._1 == 4L).forall(_._4 == null))
  }
}
