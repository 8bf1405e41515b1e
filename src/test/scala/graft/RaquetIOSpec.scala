package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin
import graft.raquet.{BandKernel, Downsample, FixtureGen, Maintenance, PixelCodec, RaquetIO,
  RaquetMetadata}

/** Reader/writer + raster expression tests over the committed gradient16
  * fixture (see [[graft.raquet.FixtureGen]] for the closed-form pixel
  * formulas; the same formulas back the driver's DuckDB oracles). */
class RaquetIOSpec extends SparkSpec {

  val fixture = "src/test/resources/raquet/gradient16.parquet"

  test("metadata parses from the block=0 row") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    assert(meta.version == "0.5.0")
    assert(meta.blockWidth == 16 && meta.blockHeight == 16)
    assert(meta.minZoom == 3 && meta.maxZoom == 6)
    assert(meta.numBlocks == 64)
    assert(meta.bands.map(_.name) == Seq("band_1", "band_2"))
    assert(meta.band("band_1").nodata.contains(255.0))
    assert(meta.band("band_2").scale.contains(0.5))
  }

  test("read excludes the metadata row and sees all 85 tiles") {
    val ds = RaquetIO.read(spark, fixture)
    assert(ds.data.count() == 85)
    assert(ds.data.filter(col("block") === 0L).count() == 0)
  }

  test("readAt hits exactly the covering tile and value matches the formula") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    // center-ish of tile (35, 27) at z6
    val b = Quadbin.cellBounds(Quadbin.tileToCell(35, 27, 6))
    val lon = (b(0) + b(2)) / 2 + 0.011
    val lat = (b(1) + b(3)) / 2 + 0.017
    val ds = RaquetIO.readAt(spark, fixture, lon, lat)
    val rows = ds.data
      .select(col("block"),
        rq_raster_value(col("band_1"), col("block"), lit(lon), lit(lat), meta, "band_1").as("v1"),
        rq_raster_value(col("band_2"), col("block"), lit(lon), lat = lit(lat), meta, "band_2").as("v2"))
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == Quadbin.tileToCell(35, 27, 6))
    // recompute expected from the kernel's own pixel math + formulas
    val k = BandKernel(meta, "band_1")
    val n = 64.0
    val xf = (lon + 180.0) / 360.0 * n
    val latR = math.toRadians(lat)
    val yf = (1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n
    val gx = math.floor(xf * 16).toLong
    val gy = math.floor(yf * 16).toLong
    val exp1 = FixtureGen.v1(gx, gy)
    if (exp1 == FixtureGen.Band1Nodata) assert(rows(0).isNullAt(1))
    else assert(rows(0).getDouble(1) == exp1)
    assert(rows(0).getDouble(2) == FixtureGen.v2(gx, gy) * 0.5 + 16.0)
  }

  test("readRegion prunes: block range predicates are pushed to parquet") {
    // a small box inside tiles (33..34, 25..26) at z6
    val w = Quadbin.tileWest(33, 6) + 0.1
    val e = Quadbin.tileEast(34, 6) - 0.1
    val s = Quadbin.tileSouth(26, 6) + 0.1
    val nn = Quadbin.tileNorth(25, 6) - 0.1
    val wkt = s"POLYGON(($w $s, $e $s, $e $nn, $w $nn, $w $s))"
    val ds = RaquetIO.readRegion(spark, fixture, wkt, zoom = "max")
    val blocks = ds.data.select("block").collect().map(_.getLong(0)).sorted
    val expected = (for (x <- 33L to 34L; y <- 25L to 26L)
      yield Quadbin.tileToCell(x, y, 6)).sorted
    assert(blocks.toSeq == expected)
    // the physical plan must push the block ranges into the parquet scan
    val plan = ds.data.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(block") || plan.contains("Or(And(")),
      s"no pushed block filters in plan:\n$plan")
  }

  test("QuadbinRangeRewrite turns a bare spatial predicate into pushed ranges") {
    import org.apache.spark.sql.graft.QuadbinRangeRewrite
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ QuadbinRangeRewrite
    try {
      val w = Quadbin.tileWest(33, 6) + 0.1
      val e = Quadbin.tileEast(34, 6) - 0.1
      val s = Quadbin.tileSouth(26, 6) + 0.1
      val nn = Quadbin.tileNorth(25, 6) - 0.1
      val wkt = s"POLYGON(($w $s, $e $s, $e $nn, $w $nn, $w $s))"
      // user writes the predicate directly — no readRegion involved
      val df = spark.read.parquet(fixture)
        .filter(col("block") =!= 0L && st_quadbin_intersects(col("block"), wkt))
      // the explain string elides long filter lists, so look for the pushed
      // Or-chain marker right after the always-present IsNotNull entry
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(block), Not(EqualTo(block,0)), Or(Or("),
        s"rewrite did not push ranges:\n${plan.take(2000)}")
      // exact semantics preserved vs a brute-force bbox check on every tile
      val got = df.select("block").collect().map(_.getLong(0)).toSet
      val rect = graft.geo.BBox(w, s, e, nn)
      val expected = spark.read.parquet(fixture)
        .filter(col("block") =!= 0L).select("block").collect()
        .map(_.getLong(0)).filter { c =>
          val b = Quadbin.cellBounds(c)
          graft.geo.BBox(b(0), b(1), b(2), b(3)).intersects(rect)
        }.toSet
      assert(got == expected)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == org.apache.spark.sql.graft.QuadbinRangeRewrite)
    }
  }

  test("QuadbinRangeRewrite pushes quadbin_zoom equality as one block range") {
    import org.apache.spark.sql.graft.QuadbinRangeRewrite
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ QuadbinRangeRewrite
    try {
      val df = spark.read.parquet(fixture)
        .filter(col("block") =!= 0L && quadbin_zoom(col("block")) === 6)
      // the explain string elides long PushedFilters lists, so assert the
      // GTE marker there and the full pair on the optimized condition
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThanOrEqual(block"),
        s"zoom range not pushed:\n${plan.take(2000)}")
      // idempotent across optimizer fixpoint iterations: exactly one range
      // pair in the post-scan filter, not one per iteration
      val cond = df.queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get
      import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual}
      val gte = cond.collect { case _: GreaterThanOrEqual => 1 }.sum
      val lte = cond.collect { case _: LessThanOrEqual => 1 }.sum
      assert(gte == 1 && lte == 1, s"zoom-range conjuncts gte=$gte lte=$lte: $cond")
      // semantics preserved
      val got = df.select("block").collect().map(_.getLong(0)).toSet
      val expected = spark.read.parquet(fixture)
        .filter(col("block") =!= 0L).select("block").collect()
        .map(_.getLong(0)).filter(Quadbin.zoom(_) == 6).toSet
      assert(got == expected && got.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == org.apache.spark.sql.graft.QuadbinRangeRewrite)
    }
  }

  test("region stats via clip + merge match a brute-force JVM computation") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    val w = Quadbin.tileWest(33, 6) + 0.05
    val e = Quadbin.tileWest(33, 6) + 1.3
    val s = Quadbin.tileSouth(26, 6) + 0.07
    val nn = Quadbin.tileSouth(26, 6) + 0.9
    val wkt = s"POLYGON(($w $s, $e $s, $e $nn, $w $nn, $w $s))"
    val ds = RaquetIO.readRegion(spark, fixture, wkt, zoom = "max")
    val row = ds.data
      .select(rq_clip_stats(col("band_1"), col("block"), meta, "band_1", wkt).as("s"))
      .agg(rq_stats_merge(col("s")).as("m"))
      .select("m.count", "m.min", "m.max", "m.sum").collect()(0)
    // brute force: every z6 pixel center in the box
    val k = BandKernel(meta, "band_1")
    var count = 0L; var mn = Double.MaxValue; var mx = Double.MinValue; var sum = 0.0
    for (x <- 32L to 39L; y <- 24L to 31L; j <- 0 until 16; i <- 0 until 16) {
      val lon = k.pixelLon(x, 6, i); val lat = k.pixelLat(y, 6, j)
      if (lon >= w && lon <= e && lat >= s && lat <= nn) {
        val v = FixtureGen.v1(x * 16 + i, y * 16 + j)
        if (v != FixtureGen.Band1Nodata) {
          count += 1; mn = math.min(mn, v); mx = math.max(mx, v); sum += v
        }
      }
    }
    assert(row.getLong(0) == count)
    assert(row.getDouble(1) == mn && row.getDouble(2) == mx && row.getDouble(3) == sum)
  }

  test("stats-column fast path equals the decode path (and skips interior blobs)") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    val wkt = graft.operators.RaquetQueries.FastRegionWkt

    // the split must partition the intersects cover: interior + boundary
    // together are exactly the intersect cells, with no overlap
    val geom = graft.geo.Wkt.parse(wkt)
    val (interior, boundary) = graft.quadbin.Polyfill.splitCover(geom, 6)
    val interiorCells = interior.flatMap { case (lo, hi) =>
      val step = 1L << (52 - 12)
      Iterator.iterate(lo)(_ + step).takeWhile(_ <= hi)
    }.toSet
    val intersectCells = graft.quadbin.Polyfill.cells(geom, 6).toSet
    assert(interiorCells.nonEmpty && boundary.nonEmpty, "both branches must carry weight")
    assert((interiorCells ++ boundary) == intersectCells)
    assert(interiorCells.intersect(boundary.toSet).isEmpty)

    def merged(df: org.apache.spark.sql.DataFrame) =
      df.agg(rq_stats_merge(col("s")).as("m"))
        .select("m.count", "m.min", "m.max", "m.sum", "m.mean", "m.stddev")
        .collect()(0)

    val fastDf = RaquetIO.regionStatsTiles(spark, fixture, wkt, "band_1")
    val fast = merged(fastDf)
    val dsSlow = RaquetIO.readRegion(spark, fixture, wkt, zoom = "max")
    val slow = merged(dsSlow.data.select(
      rq_clip_stats(col("band_1"), col("block"), meta, "band_1", wkt).as("s")))

    assert(fast.getLong(0) == slow.getLong(0))          // count exact
    assert(fast.getDouble(1) == slow.getDouble(1))      // min exact
    assert(fast.getDouble(2) == slow.getDouble(2))      // max exact
    assert(fast.getDouble(3) == slow.getDouble(3))      // sum exact
    assert(fast.getDouble(4) == slow.getDouble(4))      // mean = sum/count exact
    // stddev: interior sum_sq is reconstructed from mean/stddev columns
    assert(math.abs(fast.getDouble(5) - slow.getDouble(5)) < 1e-9 * slow.getDouble(5))

    // plan shape: one parquet scan reads the stats columns and the blob;
    // interior rows take the stats-column branch and never decode
    val scans = fastDf.queryExecution.executedPlan.toString.split("Scan parquet")
    assert(scans.length == 2, "expected one parquet scan")
    val readSchema = scans(1).linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("band_1_count") && readSchema.contains("band_1:binary"),
      s"scan misses the stats columns or the blob: $readSchema")
    assert(fastDf.queryExecution.optimizedPlan.toString.contains("CASE WHEN"),
      "no stats-column branch")
  }

  test("stats-column fast path degenerate covers: no interior / no boundary") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    def merged(df: org.apache.spark.sql.DataFrame) =
      df.agg(rq_stats_merge(col("s")).as("m"))
        .select("m.count", "m.min", "m.max", "m.sum").collect()(0)

    // sub-tile polygon: interior empty, everything goes through clip
    val w = Quadbin.tileWest(33, 6) + 0.05
    val e = Quadbin.tileWest(33, 6) + 1.3
    val s = Quadbin.tileSouth(26, 6) + 0.07
    val nn = Quadbin.tileSouth(26, 6) + 0.9
    val small = s"POLYGON(($w $s, $e $s, $e $nn, $w $nn, $w $s))"
    val fastSmall = merged(RaquetIO.regionStatsTiles(spark, fixture, small, "band_1"))
    val slowSmall = merged(
      RaquetIO.readRegion(spark, fixture, small, zoom = "max").data
        .select(rq_clip_stats(col("band_1"), col("block"), meta, "band_1", small).as("s")))
    assert(fastSmall.toSeq == slowSmall.toSeq)

    // dataset-swallowing polygon: every data tile interior (boundary cells
    // exist but match no rows) — equals full-tile stats over native tiles.
    // Tile row y=31 spans lat 0..5.62°, so the south edge must clear 0°.
    val world = "POLYGON((-1.0 -1.0, 46.0 -1.0, 46.0 43.0, -1.0 43.0, -1.0 -1.0))"
    val fastWorld = merged(RaquetIO.regionStatsTiles(spark, fixture, world, "band_1"))
    val slowWorld = merged(
      RaquetIO.read(spark, fixture).data.filter(quadbin_zoom(col("block")) === 6)
        .select(rq_summary_stats(col("band_1"), meta, "band_1").as("s")))
    assert(fastWorld.toSeq == slowWorld.toSeq)
  }

  test("pyramid tiles equal a direct downsample of their children") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val byBlock = ds.data.select("block", "band_1").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val k = BandKernel(meta, "band_1")
    val parent = Quadbin.tileToCell(17, 13, 5) // a z5 overview tile
    val kids = Quadbin.children(parent)
    val expect = Downsample.parentTile(k,
      byBlock(kids(0)), byBlock(kids(1)), byBlock(kids(2)), byBlock(kids(3)))
    assert(PixelCodec.decode(byBlock(parent), "uint8").toSeq ==
      PixelCodec.decode(expect, "uint8").toSeq)
  }

  test("overview resampling kernels: mode ties low, bilinear strict 4-tap, near passthrough") {
    // 2x2 child tiles of width 2: parent pixel (i,j) reads one 2x2 block
    val k = BandKernel("uint8", 255.0, 2, 2, 1.0, 0.0)
    def enc(v: Double*) = PixelCodec.encode(v.toArray, "uint8", gzip = true)
    def dec(b: Array[Byte]) = PixelCodec.decode(b, "uint8").toSeq
    // c00 = [10,10,20,30]: mode 10 (count 2); c10 = [5,7,7,5]: 2-2 tie → 5;
    // c01 has one nodata → mode of the rest; c11 all nodata → 255
    val mode = Downsample.parentTile(k,
      enc(10, 10, 20, 30), enc(5, 7, 7, 5),
      enc(255, 9, 9, 4), enc(255, 255, 255, 255), "mode")
    assert(dec(mode) == Seq(10.0, 5.0, 9.0, 255.0))
    // bilinear: any nodata tap (or absent child) → 255; else half-even mean
    val bil = Downsample.parentTile(k,
      enc(10, 10, 20, 30), enc(1, 2, 2, 1),     // 70/4=17.5 → 18 (even); 6/4=1.5 → 2
      enc(255, 9, 9, 4), null, "bilinear")
    assert(dec(bil) == Seq(18.0, 2.0, 255.0, 255.0))
    // half-even down: [1,2,2,1] rounds 1.5 → 2; [0,1,1,0] → 0.5 → 0
    val bil2 = Downsample.parentTile(k,
      enc(0, 1, 1, 0), enc(3, 3, 3, 3), enc(0, 0, 0, 2), enc(9, 9, 9, 9),
      "bilinear")
    assert(dec(bil2) == Seq(0.0, 3.0, 0.0, 9.0)) // 0.5→0 (even), 3, 0.5→0, 9
    // near: top-left child pixel passes through, nodata included
    val near = Downsample.parentTile(k,
      enc(10, 10, 20, 30), enc(255, 7, 7, 5), enc(4, 9, 9, 4), null, "near")
    assert(dec(near) == Seq(10.0, 255.0, 4.0, 255.0))
    // unknown kernel fails loudly (convolution kernels live in
    // Pyramid.buildLevel's halo path, not in the 2x2 reduce)
    intercept[IllegalArgumentException] {
      Downsample.parentTile(k, enc(1, 1, 1, 1), null, null, null, "gauss")
    }
  }

  test("order-statistic / rms / sum overview kernels") {
    val k = BandKernel("uint8", 255.0, 2, 2, 1.0, 0.0)
    def enc(v: Double*) = PixelCodec.encode(v.toArray, "uint8", gzip = true)
    def dec(b: Array[Byte]) = PixelCodec.decode(b, "uint8").toSeq
    // cells (valid values): [10,30,20,40], [5,7] (2 nodata), [9] , []
    val c00 = enc(10, 30, 20, 40); val c10 = enc(5, 255, 255, 7)
    val c01 = enc(255, 9, 255, 255); val c11 = enc(255, 255, 255, 255)
    def run(r: String) = dec(Downsample.parentTile(k, c00, c10, c01, c11, r))
    assert(run("min") == Seq(10.0, 5.0, 9.0, 255.0))
    assert(run("max") == Seq(40.0, 7.0, 9.0, 255.0))
    // sorted [10,20,30,40]: med idx (4-1)/2=1 → 20; q1 idx 0 → 10;
    // q3 idx 3*3/4=2 → 30. n=2: med/q1 idx 0, q3 idx 0 (3*1/4=0).
    assert(run("med") == Seq(20.0, 5.0, 9.0, 255.0))
    assert(run("q1") == Seq(10.0, 5.0, 9.0, 255.0))
    assert(run("q3") == Seq(30.0, 5.0, 9.0, 255.0))
    // rms: sqrt((100+900+400+1600)/4)=sqrt(750)=27.386→27 (half-even rint);
    // sqrt((25+49)/2)=sqrt(37)=6.08→6
    assert(run("rms") == Seq(27.0, 6.0, 9.0, 255.0))
    // sum saturates at the uint8 range instead of wrapping through encode
    assert(run("sum") == Seq(100.0, 12.0, 9.0, 255.0))
    val big = enc(200, 200, 200, 200)
    assert(dec(Downsample.parentTile(k, big, null, null, null, "sum")).head == 255.0)
  }

  test("convolution overviews: band_2 (float32, no nodata) through the same halo exchange") {
    // the driver queries cover band_1 only; this pins the multi-band path
    // and the float dtype (no rint, float32 encode rounding) — band_2's
    // closed form is DN = gx/2 + gy/4, valid everywhere in the window
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    val wts = Downsample.ConvWeights("cubicspline")
    val rr = wts.length / 2 - 1
    val parents = graft.raquet.Pyramid.buildLevel(native, meta, 5, "cubicspline")
      .select("block", "band_2").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    for ((px, py) <- Seq((16L, 12L), (19L, 15L))) {
      val got = PixelCodec.decode(parents(Quadbin.tileToCell(px, py, 5)), "float32").toSeq
      val expect = (for (j <- 0 until 16; i <- 0 until 16) yield {
        var num = 0.0; var den = 0.0
        for (b <- wts.indices; a <- wts.indices) {
          val gx = 2 * (px * 16 + i) + a - rr
          val gy = 2 * (py * 16 + j) + b - rr
          if (gx >= 512 && gx < 640 && gy >= 384 && gy < 512) {
            val wt = wts(b) * wts(a)
            num += wt * (gx / 2.0 + gy / 4.0)
            den += wt
          }
        }
        // engine encodes float32: round-trip the double the same way
        (num / den).toFloat.toDouble
      }).toSeq
      assert(got == expect, s"band_2 cubicspline ($px,$py)")
    }
  }

  test("translate kernel: rescale, dtype promote, clamp, nodata map") {
    val k = BandKernel("uint8", 255.0, 2, 2, 1.0, 0.0)
    val in = PixelCodec.encode(Array(0.0, 100.0, 254.0, 255.0), "uint8", gzip = true)
    // uint8 -> uint16 promotion x257: nodata 255 -> 65535
    val up = PixelCodec.decode(k.translate(in, "uint16", 65535.0, 257.0, 0.0), "uint16")
    assert(up.toSeq == Seq(0.0, 25700.0, 65278.0, 65535.0))
    // in-dtype stretch 2v-100 clamps both ends; nodata passes through as 255
    val st = PixelCodec.decode(k.translate(in, "uint8", 255.0, 2.0, -100.0), "uint8")
    assert(st.toSeq == Seq(0.0, 100.0, 255.0, 255.0))
    // float output: nodata -> NaN, no rounding of the linear map
    val fl = PixelCodec.decode(k.translate(in, "float64", Double.NaN, 0.5, 0.25), "float64")
    assert(fl(0) == 0.25 && fl(1) == 50.25 && fl(3).isNaN)
  }

  test("brovey pansharpen kernel: ratio, physical scaling, NaN propagation") {
    import graft.raquet.Pansharpen
    val kp = BandKernel("uint8", 255.0, 2, 2, 1.0, 0.0)
    val ki = BandKernel("uint8", 255.0, 2, 2, 1.0, 0.0)
    val kj = BandKernel("float32", Double.NaN, 2, 2, 0.5, 16.0)
    val pan = PixelCodec.encode(Array(100.0, 255.0, 40.0, 10.0), "uint8", gzip = true)
    val mi = PixelCodec.encode(Array(50.0, 60.0, 255.0, 20.0), "uint8", gzip = true)
    val mj = PixelCodec.encode(Array(8.0, 8.0, 8.0, 8.0), "float32", gzip = true) // phys 20
    val out = PixelCodec.decode(Pansharpen.brovey(kp, ki, kj, pan, mi, mj), "float64")
    assert(out(0) == 50.0 * 100.0 / ((50.0 + 20.0) / 2)) // ≈142.857
    assert(out(1).isNaN) // pan nodata
    assert(out(2).isNaN) // mi nodata
    assert(out(3) == 20.0 * 10.0 / ((20.0 + 20.0) / 2)) // 10
  }

  test("convolution overviews equal a brute-force global replay (halo taps included)") {
    // independent reference: evaluate the fixture's closed form over the
    // whole native window and convolve with no tile structure at all —
    // cross-tile taps are then exercised by construction
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val native = ds.data.filter(quadbin_zoom(col("block")) === 6)
    def v1(gx: Long, gy: Long): Double =
      if ((gx + gy) % 31 == 0) Double.NaN else ((7 * gx + 13 * gy) % 255).toDouble
    def expectTile(resampling: String, px: Long, py: Long): Seq[Double] = {
      val wts = Downsample.ConvWeights(resampling)
      val rr = wts.length / 2 - 1
      (for (j <- 0 until 16; i <- 0 until 16) yield {
        var num = 0.0; var den = 0.0
        for (b <- wts.indices; a <- wts.indices) {
          val gx = 2 * (px * 16 + i) + a - rr
          val gy = 2 * (py * 16 + j) + b - rr
          val v = if (gx >= 512 && gx < 640 && gy >= 384 && gy < 512) v1(gx, gy)
                  else Double.NaN
          if (!v.isNaN) { val wt = wts(b) * wts(a); num += wt * v; den += wt }
        }
        if (den <= 0.0) 255.0
        else math.min(math.max(math.rint(num / den), 0.0), 255.0)
      }).toSeq
    }
    for (resampling <- Seq("cubic", "cubicspline", "lanczos")) {
      val parents = graft.raquet.Pyramid
        .buildLevel(native, meta, 5, resampling)
        .select("block", "band_1").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      // exactly the 16 parents anchored by an own child — halo-only
      // neighbors (e.g. x=15) must not materialize
      assert(parents.keySet ==
        (for (x <- 16L to 19L; y <- 12L to 15L) yield Quadbin.tileToCell(x, y, 5)).toSet)
      // corner parent (dataset edge: absent halo renormalizes) + interior
      for ((px, py) <- Seq((16L, 12L), (17L, 13L))) {
        val got = PixelCodec.decode(parents(Quadbin.tileToCell(px, py, 5)), "uint8").toSeq
        assert(got == expectTile(resampling, px, py), s"$resampling ($px,$py)")
      }
    }
  }

  test("normalized difference matches per-pixel formula") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val arr = ds.data.filter(col("block") === Quadbin.tileToCell(36, 28, 6))
      .select(rq_normalized_difference(col("band_2"), col("band_1"), meta, "band_2", "band_1").as("nd"))
      .collect()(0).getSeq[Double](0)
    val gx0 = 36 * 16L; val gy0 = 28 * 16L
    var j = 0
    while (j < 16) {
      var i = 0
      while (i < 16) {
        val a = FixtureGen.v2(gx0 + i, gy0 + j) * 0.5 + 16.0
        val b = FixtureGen.v1(gx0 + i, gy0 + j)
        val exp = if (b == 255.0) Double.NaN else (a - b) / (a + b)
        val got = arr(j * 16 + i)
        assert(got.isNaN == exp.isNaN)
        if (!exp.isNaN) assert(got == exp)
        i += 1
      }
      j += 1
    }
  }

  test("fused ND stats equal the aggregate of the per-pixel ND array") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val rows = ds.data
      .select(
        rq_normalized_difference_stats(col("band_2"), col("band_1"),
          meta, "band_2", "band_1").as("s"),
        rq_normalized_difference(col("band_2"), col("band_1"),
          meta, "band_2", "band_1").as("nd"))
      .collect()
    assert(rows.length == 85)
    rows.foreach { r =>
      val nd = r.getSeq[Double](1).filterNot(_.isNaN)
      val s = r.getStruct(0)
      assert(s.getLong(0) == nd.length)          // count
      assert(s.getDouble(1) == nd.min)           // min
      assert(s.getDouble(2) == nd.max)           // max
      // same accumulation order (row-major pixel loop) => bit-identical sum
      assert(s.getDouble(3) == nd.foldLeft(0.0)(_ + _))
    }
  }

  test("clip pixels: inside fast path, boundary mask, outside null") {
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val wkt = graft.operators.RaquetQueries.FastRegionWkt
    def clipOf(x: Long, y: Long) = ds.data
      .filter(col("block") === Quadbin.tileToCell(x, y, 6))
      .select(rq_clip(col("band_2"), col("block"), meta, "band_2", wkt).as("c"),
        rq_decode(col("band_2"), meta, "band_2").as("d"))
      .collect()(0)
    // (33,28): tile box fully inside the polygon -> clip == physical decode
    val in = clipOf(33, 28)
    val clip = in.getSeq[Double](0)
    val dec = in.getSeq[Double](1)
    assert(clip.length == 256)
    clip.zip(dec).foreach { case (c, d) => assert(c == d * 0.5 + 16.0) }
    // (32,28): straddles lon=2 -> NaN exactly where the center is west of it
    val edge = clipOf(32, 28).getSeq[Double](0)
    val k = BandKernel(meta, "band_2")
    (0 until 16).foreach { j =>
      (0 until 16).foreach { i =>
        val inside = k.pixelLon(32, 6, i) > 2.0 // lat rows 27..30 are inside
        assert(edge(j * 16 + i).isNaN == !inside)
      }
    }
    // (39,24): north-east corner tile, fully outside -> NULL
    val out = ds.data.filter(col("block") === Quadbin.tileToCell(39, 24, 6))
      .select(rq_clip(col("band_2"), col("block"), meta, "band_2",
        "POLYGON((2.0 5.0, 19.0 5.0, 19.0 32.0, 2.0 32.0, 2.0 5.0))").as("c"))
      .collect()
    assert(out.length == 1 && out(0).isNullAt(0))
  }

  test("clip stats equal stats of the clip array across the whole fixture") {
    // rq_clip_stats aggregates RAW DN (the stats-columns convention);
    // rq_clip returns PHYSICAL values — related by the affine scale/offset,
    // exact here because band_2 is dyadic (scale 0.5, offset 16)
    val meta = RaquetIO.readMetadata(spark, fixture)
    val ds = RaquetIO.read(spark, fixture)
    val wkt = graft.operators.RaquetQueries.FastRegionWkt
    val rows = ds.data
      .select(
        rq_clip_stats(col("band_2"), col("block"), meta, "band_2", wkt).as("s"),
        rq_clip(col("band_2"), col("block"), meta, "band_2", wkt).as("c"))
      .collect()
    assert(rows.exists(r => !r.isNullAt(0)))
    rows.foreach { r =>
      // stats may be null for a box-intersecting tile with zero pixel
      // CENTERS inside (clip then yields an all-NaN array)
      if (r.isNullAt(0))
        assert(r.isNullAt(1) || r.getSeq[Double](1).forall(_.isNaN))
      else {
        assert(!r.isNullAt(1))
        val s = r.getStruct(0)
        val c = r.getSeq[Double](1).filterNot(_.isNaN)
        assert(s.getLong(0) == c.length)
        if (c.nonEmpty) {
          assert(c.min == s.getDouble(1) * 0.5 + 16.0)
          assert(c.max == s.getDouble(2) * 0.5 + 16.0)
          assert(c.sum == s.getDouble(3) * 0.5 + 16.0 * c.length)
        }
      }
    }
  }

  test("SQL registrations of clip and nd-stats match the Column DSL") {
    val ds = RaquetIO.read(spark, fixture)
    ds.data.createOrReplaceTempView("rq_sqlreg")
    val metaJson = graft.raquet.RaquetMetadata.toJson(ds.meta)
    val wkt = graft.operators.RaquetQueries.FastRegionWkt
    val viaSql = spark.sql(
      s"""SELECT block, rq_clip(band_2, block, '$metaJson', 'band_2', '$wkt') AS c,
            rq_normalized_difference_stats(band_2, band_1, '$metaJson',
              'band_2', 'band_1') AS s
          FROM rq_sqlreg""").collect()
    val viaDsl = ds.data.select(col("block"),
        rq_clip(col("band_2"), col("block"), ds.meta, "band_2", wkt).as("c"),
        rq_normalized_difference_stats(col("band_2"), col("band_1"),
          ds.meta, "band_2", "band_1").as("s"))
      .collect()
    val sqlByBlock = viaSql.map(r => r.getLong(0) -> r).toMap
    assert(viaDsl.length == viaSql.length)
    viaDsl.foreach { d =>
      val q = sqlByBlock(d.getLong(0))
      assert(d.isNullAt(1) == q.isNullAt(1))
      if (!d.isNullAt(1)) {
        val a = d.getSeq[Double](1); val b = q.getSeq[Double](1)
        assert(a.length == b.length)
        a.zip(b).foreach { case (x, y) =>
          assert(x == y || (x.isNaN && y.isNaN)) }
      }
      assert(d.getStruct(2) == q.getStruct(2))
    }
  }

  test("write/read round-trip preserves rows and metadata (directory form)") {
    val tmp = java.nio.file.Files.createTempDirectory("rq").toString + "/rt"
    val ds = RaquetIO.read(spark, fixture)
    RaquetIO.write(ds.data, ds.meta, tmp)
    val back = RaquetIO.read(spark, tmp)
    assert(back.data.count() == 85)
    assert(back.meta.numBlocks == 64 && back.meta.maxZoom == 6)
    val a = ds.data.select("block").collect().map(_.getLong(0)).sorted.toSeq
    val b = back.data.select("block").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("the metadata row is written first in path order, under one name, on every write") {
    val ds = RaquetIO.read(spark, fixture)
    for (i <- 1 to 5) {
      val dir = tmpDir() + s"/w$i"
      RaquetIO.write(ds.data, ds.meta, dir, maxRecordsPerFile = 16)
      val files = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted
      assert(files.length > 2 && files.head == "part-0-metadata.parquet", files.mkString(","))
      val first = spark.read.parquet(s"$dir/${files.head}")
      assert(first.count() == 1 && first.filter(col("block") === 0L).count() == 1)
      assert(files.tail.forall(f =>
        spark.read.parquet(s"$dir/$f").filter(col("block") === 0L).isEmpty), files.mkString(","))
    }
  }

  test("quadbin_in_ranges equals the BETWEEN-OR chain on random spans") {
    import graft.functions.GraftFunctions.quadbin_in_ranges
    val rnd = new scala.util.Random(83)
    // sorted disjoint spans over a small id domain
    val cuts = Seq.fill(40)(rnd.nextInt(4000).toLong).distinct.sorted
    val ranges = cuts.grouped(2).collect { case Seq(lo, hi) => (lo, hi) }.toArray
    val df = spark.range(0, 4000).toDF("block")
    val viaExpr = df.filter(quadbin_in_ranges(col("block"), ranges))
      .collect().map(_.getLong(0)).toSet
    val viaOr = df.filter(ranges.map { case (lo, hi) =>
      col("block") >= lo && col("block") <= hi }.reduce(_ || _))
      .collect().map(_.getLong(0)).toSet
    assert(viaExpr == viaOr)
    // boundary cells: ends are inside, just-outside neighbors are not
    ranges.foreach { case (lo, hi) =>
      assert(graft.quadbin.Polyfill.inRanges(lo, ranges.map(_._1), ranges.map(_._2)))
      assert(graft.quadbin.Polyfill.inRanges(hi, ranges.map(_._1), ranges.map(_._2)))
    }
    assert(!graft.quadbin.Polyfill.inRanges(ranges.head._1 - 1,
      ranges.map(_._1), ranges.map(_._2)))
  }

  /** The metadata read the footer pass replaced (a LIMIT 1 query over the
    * `block = 0` rows), kept here as the reference form. */
  private def limitQueryMetadata(path: String): RaquetMetadata = {
    val rows = spark.read.parquet(path)
      .filter(col("block") === 0L).select("metadata").limit(1).collect()
    require(rows.nonEmpty, s"no metadata row (block=0) in $path")
    RaquetMetadata.parse(rows(0).getString(0))
  }

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("rq").toString

  test("footer open equals the LIMIT query and Spark's inferred schema on every layout") {
    val src = RaquetIO.read(spark, fixture)
    val written = tmpDir() + "/written"
    RaquetIO.write(src.data, src.meta, written, maxRecordsPerFile = 16)
    val split = tmpDir() + "/split"
    Maintenance.splitZoom(spark, fixture, split)
    val upserted = tmpDir() + "/upserted"
    RaquetIO.write(src.data, src.meta, upserted, maxRecordsPerFile = 16)
    val cSrc = Quadbin.tileToCell(39, 31, 6)
    val d0 = RaquetIO.read(spark, upserted).data
    Maintenance.upsert(spark, upserted, d0.filter(col("block") === cSrc)
      .withColumn("block", lit(Quadbin.tileToCell(41, 26, 6))))
    val parted = tmpDir() + "/parted"
    Maintenance.partition(spark, fixture, parted, partZoom = 4)
    // files whose own schema declares `block` required: the open schema is
    // all-nullable, as Spark's inferred one is
    val required = tmpDir() + "/required"
    val raw = spark.read.parquet(fixture)
    spark.createDataFrame(raw.rdd, org.apache.spark.sql.types.StructType(raw.schema.map(f =>
      if (f.name == "block") f.copy(nullable = false) else f))).write.parquet(required)
    val layouts = Seq(fixture, written, s"$written/part-*", upserted, parted, required) ++
      (3 to 6).map(z => s"$split/z=$z")
    layouts.foreach { path =>
      assert(RaquetMetadata.toJson(RaquetIO.readMetadata(spark, path)) ==
        RaquetMetadata.toJson(limitQueryMetadata(path)), path)
      val inferred = spark.read.parquet(path).schema
      assert(RaquetIO.read(spark, path).data.schema == inferred, path)
      assert(spark.read.format("raquet").load(path).schema == inferred, path)
      assert(spark.sql(s"SELECT * FROM raquet.`$path`").schema == inferred, path)
    }
    assert(RaquetIO.readMetadata(spark, upserted).numBlocks == src.meta.numBlocks + 1)
    assert(RaquetIO.read(spark, parted).data.columns.last == "part")
    // a table without a block = 0 row fails by name, as the LIMIT query did
    val bare = tmpDir() + "/bare"
    src.data.write.parquet(bare)
    val e = intercept[IllegalArgumentException](RaquetIO.readMetadata(spark, bare))
    assert(e.getMessage.contains(s"no metadata row (block=0) in $bare"))
    val eRef = intercept[IllegalArgumentException](limitQueryMetadata(bare))
    assert(eRef.getMessage == e.getMessage)
  }

  test("opening a table runs no Spark job") {
    val dir = tmpDir() + "/guard"
    val src = RaquetIO.read(spark, fixture)
    RaquetIO.write(src.data, src.meta, dir, maxRecordsPerFile = 16)
    val b = Quadbin.cellBounds(Quadbin.tileToCell(35, 27, 6))
    val (lon, lat) = ((b(0) + b(2)) / 2, (b(1) + b(3)) / 2)
    val wkt = s"POLYGON((${b(0)} ${b(1)}, ${b(2)} ${b(1)}, ${b(2)} ${b(3)}, " +
      s"${b(0)} ${b(3)}, ${b(0)} ${b(1)}))"
    Seq(fixture, dir).foreach { path =>
      assert(jobsDuring(RaquetIO.readMetadata(spark, path))._2 == 0, s"readMetadata($path)")
      assert(jobsDuring(RaquetIO.read(spark, path))._2 == 0, s"read($path)")
      assert(jobsDuring(RaquetIO.readRegion(spark, path, wkt))._2 == 0, s"readRegion($path)")
      assert(jobsDuring(RaquetIO.regionStatsTiles(spark, path, wkt, "band_1"))._2 == 0,
        s"regionStatsTiles($path)")
      assert(jobsDuring(RaquetIO.readAt(spark, path, lon, lat))._2 == 0, s"readAt($path)")
      assert(jobsDuring(spark.read.format("raquet").load(path))._2 == 0, s"format(raquet) $path")
      assert(jobsDuring(spark.sql(s"SELECT * FROM raquet.`$path`"))._2 == 0, s"SQL on $path")
    }
  }

  test("a glob open returns the directory's rows and logs no missing-path warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = tmpDir() + "/glob"
    val src = RaquetIO.read(spark, fixture)
    RaquetIO.write(src.data, src.meta, dir, maxRecordsPerFile = 16)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("glob-open-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warnings.add(
          s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage} ${Option(e.getThrown).getOrElse("")}")
    }
    val context = LogManager.getContext(false).asInstanceOf[LoggerContext]
    capture.start()
    context.getConfiguration.getRootLogger.addAppender(capture, Level.WARN, null)
    context.updateLoggers()
    val rows = try {
      val glob = s"$dir/part-*"
      Seq(RaquetIO.read(spark, glob).data,
        RaquetIO.regionStatsTiles(spark, glob, "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))", "band_1"))
        .map(_.select("block").collect().map(_.getLong(0)).sorted.toSeq)
    } finally {
      context.getConfiguration.getRootLogger.removeAppender(capture.getName)
      context.updateLoggers()
      capture.stop()
    }
    assert(rows.head == RaquetIO.read(spark, dir).data.select("block").collect()
      .map(_.getLong(0)).sorted.toSeq)
    assert(rows.head.length == 85 && rows(1).nonEmpty)
    assert(warnings.isEmpty, warnings.asScala.mkString("\n"))
  }

  test("the metadata row comes from the first file in path order, whatever the scan settings") {
    // an uneven partitioned table: one metadata row per part= directory,
    // each with its own num_blocks
    val src = RaquetIO.read(spark, fixture)
    val dropped = for (x <- 32L to 33L; y <- 24L to 25L) yield Quadbin.tileToCell(x, y, 6)
    val uneven = tmpDir() + "/uneven"
    RaquetIO.write(src.data.filter(!col("block").isin(dropped: _*)), src.meta, uneven)
    val parted = tmpDir() + "/parted"
    Maintenance.partition(spark, uneven, parted, partZoom = 4)
    val counts = new java.io.File(parted).listFiles().map(_.getName)
      .filter(_.startsWith("part=")).sorted.map { d =>
        spark.read.parquet(s"$parted/$d").filter(col("block") =!= 0L).count()
      }
    assert(counts.distinct.length > 1, counts.mkString(","))
    val conf = spark.conf
    val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> conf.get(k))
    try {
      Seq(Seq("0", "1g"), Seq("64m", "1k")).foreach { values =>
        keys.zip(values).foreach { case (k, v) => conf.set(k, v) }
        assert(RaquetIO.readMetadata(spark, parted).numBlocks == counts.head, values)
        assert(RaquetIO.read(spark, parted).meta.numBlocks == counts.head, values)
      }
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
