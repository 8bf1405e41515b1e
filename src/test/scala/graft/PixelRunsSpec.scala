package graft

import org.scalacheck.Gen

import graft.geo.{BBox, Geom, MultiPolygonGeom, PointGeom, PolygonGeom}
import graft.quadbin.Quadbin
import graft.raquet.{BandKernel, PixelCodec, PixelRuns, RaquetIO}

/** [[PixelRuns]] keeps exactly the pixels a per-pixel
  * `geom.containsPoint(pixelLon, pixelLat)` test keeps, and the four clip
  * kernels built on it (`clipStats`, `clip`, `rasterize`,
  * `clipHistogramOn`) give bit-identical output to their per-pixel forms. */
class PixelRunsSpec extends SparkSpec with PropHelper {

  // --- the per-pixel reference ---

  private def refMask(k: BandKernel, block: Long, g: Geom): Array[Boolean] = {
    val (z, x, y) = (Quadbin.zoom(block), Quadbin.tileX(block), Quadbin.tileY(block))
    val mask = new Array[Boolean](k.width * k.height)
    for (j <- 0 until k.height) {
      val lat = k.pixelLat(y, z, j)
      for (i <- 0 until k.width) mask(j * k.width + i) = g.containsPoint(k.pixelLon(x, z, i), lat)
    }
    mask
  }

  private def runsMask(runs: PixelRuns, n: Int): Array[Boolean] = {
    val mask = new Array[Boolean](n)
    var last = 0
    for (r <- 0 until runs.count) {
      assert(runs.start(r) >= last && runs.start(r) < runs.end(r), s"run $r not sorted/non-empty")
      (runs.start(r) until runs.end(r)).foreach(mask(_) = true)
      last = runs.end(r)
    }
    mask
  }

  private def box(block: Long): BBox = {
    val (z, x, y) = (Quadbin.zoom(block), Quadbin.tileX(block), Quadbin.tileY(block))
    BBox(Quadbin.tileWest(x, z), Quadbin.tileSouth(y, z), Quadbin.tileEast(x, z),
      Quadbin.tileNorth(y, z))
  }

  private def refStats(v: Array[Double], nodata: Double, mask: Array[Boolean]): Array[Double] = {
    var (count, mn, mx, sum, sumSq) = (0L, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, 0.0)
    for (i <- v.indices) {
      val x = v(i)
      if (mask(i) && !x.isNaN && !x.isInfinite && !(!nodata.isNaN && x == nodata)) {
        count += 1; if (x < mn) mn = x; if (x > mx) mx = x; sum += x; sumSq += x * x
      }
    }
    if (count == 0) null else Array(count.toDouble, mn, mx, sum, sumSq)
  }

  private def refClipStats(k: BandKernel, raw: Array[Byte], block: Long, g: Geom): Array[Double] =
    if (g.containsBox(box(block))) PixelCodec.fusedStats(raw, k.dtype, k.nodata)
    else if (!g.intersectsBox(box(block))) null
    else refStats(k.decode(raw), k.nodata, refMask(k, block, g))

  private def refClip(k: BandKernel, raw: Array[Byte], block: Long, g: Geom): Array[Double] =
    if (!g.intersectsBox(box(block))) null
    else {
      val v = k.physical(raw)
      if (!g.containsBox(box(block)))
        refMask(k, block, g).zipWithIndex.foreach { case (in, p) => if (!in) v(p) = Double.NaN }
      v
    }

  private def refRasterize(k: BandKernel, block: Long, values: Array[Double],
      geoms: Array[Geom]): Array[Byte] = {
    val out = Array.fill(k.width * k.height)(if (k.nodata.isNaN) Double.NaN else k.nodata)
    for ((g, v) <- geoms.zip(values) if g.intersectsBox(box(block))) {
      val mask = if (g.containsBox(box(block))) Array.fill(out.length)(true)
        else refMask(k, block, g)
      for (p <- out.indices if mask(p)) {
        val cur = out(p)
        if (cur.isNaN || (!k.nodata.isNaN && cur == k.nodata) || v > cur) out(p) = v
      }
    }
    PixelCodec.encode(out, k.dtype, gzip = true)
  }

  private def refHistogram(k: BandKernel, v: Array[Double], block: Long, g: Geom,
      min: Double, max: Double, buckets: Int): Array[Long] =
    if (!g.intersectsBox(box(block))) null
    else {
      val mask = if (g.containsBox(box(block))) Array.fill(v.length)(true)
        else refMask(k, block, g)
      val bw = (max - min) / buckets
      val out = new Array[Long](buckets)
      for (i <- v.indices if mask(i)) {
        val p = v(i)
        if (!(p.isNaN || (!k.nodata.isNaN && p == k.nodata))) {
          val b = ((p - min) / bw).toInt
          if (p >= min && b >= 0 && b < buckets) out(b) += 1
        }
      }
      out
    }

  // --- geometry generators around one tile ---

  /** A coordinate near the tile: uniform over the tile grown by half a
    * tile each side, or exactly a pixel-centre longitude/latitude, or a
    * tile edge. */
  private def coord(lo: Double, hi: Double, centre: Int => Double, n: Int): Gen[Double] = {
    val span = hi - lo
    Gen.frequency(
      5 -> Gen.choose(lo - span / 2, hi + span / 2),
      3 -> Gen.choose(0, n - 1).map(centre),
      1 -> Gen.oneOf(lo, hi))
  }

  /** One ring: random vertices, with repeated vertices (zero-length
    * edges) and repeated latitudes (horizontal edges); closed or not. */
  private def ring(k: BandKernel, block: Long): Gen[Array[Double]] = {
    val (z, x, y) = (Quadbin.zoom(block), Quadbin.tileX(block), Quadbin.tileY(block))
    val b = box(block)
    val lon = coord(b.west, b.east, k.pixelLon(x, z, _), k.width)
    val lat = coord(b.south, b.north, k.pixelLat(y, z, _), k.height)
    for {
      n <- Gen.choose(3, 9)
      pts <- Gen.listOfN(n, Gen.zip(lon, lat, Gen.choose(0, 5)))
      closed <- Gen.oneOf(true, false)
    } yield {
      val out = scala.collection.mutable.ArrayBuffer.empty[Double]
      pts.foreach { case (px, py, kind) =>
        kind match {
          case 0 if out.nonEmpty => out ++= out.takeRight(2) // zero-length edge
          case 1 if out.nonEmpty => out += px; out += out(out.length - 2) // horizontal edge
          case _ => out += px; out += py
        }
      }
      if (closed) out ++= out.take(2)
      out.toArray
    }
  }

  private def polygon(k: BandKernel, block: Long): Gen[PolygonGeom] =
    for {
      holes <- Gen.choose(0, 2)
      rings <- Gen.listOfN(holes + 1, ring(k, block))
    } yield PolygonGeom(rings.toArray)

  private def geom(k: BandKernel, block: Long): Gen[Geom] = {
    val (z, x, y) = (Quadbin.zoom(block), Quadbin.tileX(block), Quadbin.tileY(block))
    Gen.frequency(
      5 -> polygon(k, block),
      3 -> Gen.choose(2, 3).flatMap(n => Gen.listOfN(n, polygon(k, block)))
        .map(ps => MultiPolygonGeom(ps.toArray)),
      2 -> Gen.zip(Gen.choose(0, k.width - 1), Gen.choose(0, k.height - 1))
        .map { case (i, j) => PointGeom(k.pixelLon(x, z, i), k.pixelLat(y, z, j)) })
  }

  private val tileGen: Gen[(BandKernel, Long)] = for {
    z <- Gen.choose(0, 22)
    x <- Gen.choose(0L, (1L << z) - 1)
    y <- Gen.choose(0L, (1L << z) - 1)
    w <- Gen.oneOf(1, 3, 16, 17, 64)
    h <- Gen.oneOf(1, 5, 16, 31, 64)
  } yield (BandKernel("float64", Double.NaN, w, h, 1.0, 0.0), Quadbin.tileToCell(x, y, z))

  test("row runs equal the per-pixel containsPoint mask on random geometries, tiles and zooms") {
    forAll(tileGen.flatMap(t => geom(t._1, t._2).map(g => (t._1, t._2, g))), 600) {
      case (k, block, g) =>
        val got = runsMask(k.pixelRuns(block, g), k.width * k.height)
        val want = refMask(k, block, g)
        assert(got.sameElements(want), s"mask differs for ${graft.geo.Wkt.format(g)} at " +
          got.indices.filter(p => got(p) != want(p)).mkString(","))
    }
  }

  test("row runs: overlapping multipolygon members keep their union, not one parity") {
    val k = BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)
    val block = Quadbin.tileToCell(35, 27, 6)
    val b = box(block)
    def rect(w: Double, s: Double, e: Double, n: Double) =
      PolygonGeom(Array(Array(w, s, e, s, e, n, w, n, w, s)))
    val (dx, dy) = (b.east - b.west, b.north - b.south)
    val a = rect(b.west + dx * 0.1, b.south + dy * 0.1, b.west + dx * 0.7, b.south + dy * 0.7)
    val c = rect(b.west + dx * 0.4, b.south + dy * 0.4, b.west + dx * 0.9, b.south + dy * 0.9)
    val m = MultiPolygonGeom(Array(a, c))
    val got = runsMask(k.pixelRuns(block, m), 256)
    assert(got.sameElements(refMask(k, block, m)))
    // the overlap is kept (one even-odd parity over both members drops it)
    val both = refMask(k, block, a).zip(refMask(k, block, c)).map { case (p, q) => p && q }
    assert(both.exists(identity) && both.zip(got).forall { case (o, g) => !o || g })
  }

  // --- the four kernels against their per-pixel forms ---

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    (a == null && b == null) || (a != null && b != null && java.util.Arrays.equals(a, b))

  private def checkKernels(k: BandKernel, tiles: Seq[(Long, Array[Byte])], n: Int): Unit = {
    val gen = for {
      t <- Gen.oneOf(tiles)
      gs <- Gen.listOfN(3, Gen.frequency(8 -> geom(k, t._1),
        1 -> Gen.const(PolygonGeom(Array(Array(-180.0, -85.0, 180.0, -85.0, 180.0, 85.0,
          -180.0, 85.0)))),
        1 -> Gen.const(PointGeom(0.5, 0.5))))
    } yield (t, gs)
    forAll(gen, n) { case ((block, raw), gs) =>
      val g = gs.head
      assert(sameBits(k.clipStats(raw, block, g), refClipStats(k, raw, block, g)), s"clipStats $g")
      assert(sameBits(k.clip(raw, block, g), refClip(k, raw, block, g)), s"clip $g")
      val v = k.decode(raw)
      for ((lo, hi, nb) <- Seq((-0.5, 255.5, 256), (0.0, 64.0, 7)))
        assert(java.util.Arrays.equals(k.clipHistogramOn(v, block, g, lo, hi, nb),
          refHistogram(k, v, block, g, lo, hi, nb)), s"clipHistogramOn $g")
      val values = Array(3.0, 7.0, 5.0)
      assert(k.rasterize(block, values, gs.toArray).sameElements(
        refRasterize(k, block, values, gs.toArray)), s"rasterize $gs")
    }
  }

  test("clip kernels are bit-identical to the per-pixel path on gradient16") {
    val fixture = "src/test/resources/raquet/gradient16.parquet"
    val ds = RaquetIO.read(spark, fixture)
    for (band <- Seq("band_1", "band_2")) {
      val tiles = ds.data.select("block", band).collect().toSeq
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
      checkKernels(ds.kernel(band), tiles, 150)
    }
  }

  test("clip kernels are bit-identical to the per-pixel path on float32 with NaN and nodata") {
    val (w, h) = (64, 48)
    val k = BandKernel("float32", -9999.0, w, h, 0.5, 3.0)
    val rnd = new java.util.Random(7)
    val tiles = Seq((40L, 30L, 7), (3L, 2L, 3), (1000L, 2000L, 12)).map { case (x, y, z) =>
      val a = Array.tabulate(w * h) { p =>
        rnd.nextInt(10) match {
          case 0 => Double.NaN
          case 1 => -9999.0
          case 2 => Double.PositiveInfinity
          case _ => (rnd.nextFloat() * 70.0f - 3.0f).toDouble
        }
      }
      Quadbin.tileToCell(x, y, z) -> PixelCodec.encode(a, "float32", gzip = true)
    }
    checkKernels(k, tiles, 200)
  }
}
