package graft

import org.apache.spark.sql.functions._

import graft.quadbin.Quadbin
import graft.raquet.{GeoTiff, RaquetIO}

/** GeoTIFF ingest/export.
  *
  * Five tests compare against the REFERENCE's own golden expectations
  * (`tests/test_geotiff2raquet.py`) for its rasters (FIXTURES.md §1):
  * europe structure, n37 DEM, big-world wrap, discreteloss and colored
  * palette. They need the reference repository's files and cancel where
  * those are absent. Each has a synthetic twin below that drives the same
  * code path from a raster the test writes itself: geographic int16
  * cubicspline, geographic deflate nodata-0 mask, global geographic wrap,
  * palette ColorMap.
  *
  * The tests that only need a mercator-aligned input (identity warp for
  * every kernel, unknown resampling, overviews/min-zoom, convolution
  * overview, target-size split, tileStats columns, convert → export
  * round-trip) run on the europe twin ([[europeTwin]]): europe.tif's
  * geometry with hashed pixels. Its grid is exactly mercator-aligned, so a
  * nearest-neighbour warp is an identity resample. */
class GeoTiffSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("gt").toString + "/" + name

  /** Cancels a reference-golden test where its input raster is absent: its
    * expected values are facts of that file, which no generator here can
    * reproduce. */
  private def assumeReference(path: String): Unit =
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      s"$path is absent: this test checks the reference's goldens for that raster")

  /** Europe twin pixel: the low byte of a fixed integer hash (lowbias32) of
    * (band, row, column). Hashed bytes are incompressible and no kernel can
    * reproduce them by interpolating a smooth field. */
  private def twinPixel(b: Int, i: Int, j: Int): Int = {
    var h = (b * 1024 + j) * 1024 + i
    h ^= h >>> 16; h *= 0x7feb352d
    h ^= h >>> 15; h *= 0x846ca68b
    h ^= h >>> 16
    h & 0xFF
  }

  /** europe.tif's geometry (FIXTURES.md §2c): 1024×1024 px, 4 × uint8 (so
    * RGBA colorinterp), EPSG:3857, no nodata, pixel size CE/2^13 (zoom 13
    * pixels: z5 tiles of 256 px), origin at the NW corner of z5 tile
    * (16, 8) = (0°E, 66.513°N). It spans z5 tiles x 16-19 × y 8-11.
    * Written once per suite. */
  private lazy val europeTwin: String = {
    val tif = tmp("europe-twin.tif")
    val n = 1024; val nb = 4; val rps = 64
    val ce = GeoTiff.CE
    val strips = (0 until n / rps).iterator.map { s0 =>
      val arr = new Array[Byte](rps * n * nb)
      for (j <- 0 until rps; i <- 0 until n; b <- 0 until nb)
        arr((j * n + i) * nb + b) = twinPixel(b, i, s0 * rps + j).toByte
      arr
    }
    graft.raquet.TiffWriter.writeStrips(tif, n, n, "uint8", nb, ce / (1 << 13),
      -ce / 2 + 16 * ce / 32, ce / 2 - 8 * ce / 32, None, rps, strips)
    tif
  }

  test("europe.tif converts to the reference's golden structure and stats") {
    assumeReference("/root/reference/examples/europe.tif")
    val out = tmp("europe.parquet")
    val meta = GeoTiff.convert(spark, "/root/reference/examples/europe.tif", out)
    // goldens from tests/test_geotiff2raquet.py:68-118
    assert(meta.maxZoom == 5)
    assert(meta.minZoom == 2)
    assert(meta.pixelZoom == 13)
    assert(meta.numBlocks == 16)
    assert(meta.width == 1024 && meta.height == 1024)
    assert(meta.bands.map(_.bandType) == Seq("uint8", "uint8", "uint8", "uint8"))
    assert(meta.bands.map(_.colorinterp.get) == Seq("red", "green", "blue", "alpha"))
    assert(meta.bands.head.nodata.isEmpty)
    val b = meta.bounds.map(v => math.rint(v * 1000) / 1000)
    assert(b.toSeq == Seq(0.0, 40.98, 45.0, 66.513))

    val ds = RaquetIO.read(spark, out)
    assert(ds.data.count() == 22) // 16 + 4 + 1 + 1 (golden: 23 rows incl metadata)
    assert(ds.data.columns.take(6).toSeq ==
      Seq("block", "metadata", "band_1", "band_2", "band_3", "band_4"))
    // The reference's STATISTICS goldens (mean 106.36) are an artifact of
    // its zoom-2 stats approximation over GDAL-warped tiles that count
    // uncovered zero pixels; ours are exact native-zoom stats. The aligned
    // grid makes the warp an identity, so band_1's mean must equal the
    // true source mean (166.0527229309082, verified by an independent
    // byte-level TIFF decode).
    val st = meta.bands.head.stats.get
    assert(st._2 == 255.0)
    assert(math.abs(st._3 - 166.0527229309082) < 1e-9, s"mean ${st._3}")
  }

  test("n37 DEM (geographic, int16, uncompressed) converts with golden tiling") {
    assumeReference("/root/reference/tests/n37_w123_1arc_v2.tif")
    val out = tmp("n37.parquet")
    // the reference test converts this DEM with CubicSpline
    // (tests/test_geotiff2raquet.py:128); same kernel here
    val meta = GeoTiff.convert(spark,
      "/root/reference/tests/n37_w123_1arc_v2.tif", out, zoomStrategy = "lower",
      resampling = "cubicspline")
    // goldens from tests/test_geotiff2raquet.py:120-157
    assert(meta.maxZoom == 11)
    assert(meta.minZoom == 10)
    assert(meta.pixelZoom == 19)
    assert(meta.numBlocks == 4)
    assert(meta.width == 512 && meta.height == 512)
    assert(meta.bands.head.bandType == "int16")
    assert(meta.bands.head.nodata.contains(-32767.0))
    val b = meta.bounds.map(v => math.rint(v * 1000) / 1000)
    assert(b.toSeq == Seq(-122.695, 37.579, -122.344, 37.858))
    // golden STATISTICS_MEAN 38.1 / STATISTICS_STDDEV 54.6 (places=0)
    val st = meta.bands.head.stats.get
    assert(math.abs(st._3 - 38.1) < 0.5, s"mean ${st._3}")
    // The golden stddev uses the reference's combine_stats, which merges
    // per-tile stddevs as a count-weighted AVERAGE (raster2raquet.py:493)
    // — it drops the between-tile mean variance. Ours is the exact pooled
    // stddev (A3), so compare the golden against the same approximation
    // recomputed from our tiles, and sanity-bound the exact value.
    val ds = RaquetIO.read(spark, out)
    val perTile = ds.data
      .filter(graft.functions.GraftFunctions.quadbin_zoom(col("block")) === meta.maxZoom)
      .select(graft.functions.GraftFunctions.rq_summary_stats(
        col("band_1"), ds.meta, "band_1").as("s"))
      .select("s.count", "s.sum", "s.sum_sq").collect()
    val totalN = perTile.map(_.getLong(0)).sum.toDouble
    val refStyle = perTile.map { r =>
      val n = r.getLong(0).toDouble; val s = r.getDouble(1); val q = r.getDouble(2)
      (n / totalN) * math.sqrt(math.max(0.0, q / n - (s / n) * (s / n)))
    }.sum
    assert(math.abs(refStyle - 54.6) < 0.5, s"reference-style stddev $refStyle")
    assert(st._4 > refStyle && st._4 < 60.0, s"exact pooled stddev ${st._4}")
  }

  test("every non-near kernel reproduces an aligned identity warp") {
    // the europe twin is exactly mercator-grid-aligned: every interpolating
    // kernel must return the original pixels — convolution weights collapse
    // onto sample centers, and each footprint statistic sees a single-pixel
    // box (rms and mode included: |v| = v for uint8, mode of one value is
    // itself). cubicspline is deliberately absent: a B-spline SMOOTHS even
    // on aligned grids (w(0)=2/3), and is covered by the n37 golden test
    // and its geographic int16 twin.
    // expected: band_1's exact mean over all 2^20 source pixels
    var sum = 0L
    for (j <- 0 until 1024; i <- 0 until 1024) sum += twinPixel(0, i, j)
    val mean = sum.toDouble / (1 << 20)
    for (alg <- Seq("bilinear", "cubic", "lanczos", "average",
        "sum", "rms", "min", "max", "med", "q1", "q3", "mode")) {
      val out = tmp(s"europe_$alg.parquet")
      val meta = GeoTiff.convert(spark, europeTwin, out, resampling = alg)
      val st = meta.bands.head.stats.get
      assert(math.abs(st._3 - mean) < 1e-9, s"$alg mean ${st._3}")
    }
  }

  test("unknown resampling algorithm fails loudly") {
    val e = intercept[Exception] {
      GeoTiff.convert(spark, europeTwin, tmp("bad.parquet"), resampling = "mediocre")
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause != null) rootMsg(t.getCause) else String.valueOf(t.getMessage)
    assert((e.getMessage + rootMsg(e)).contains("unsupported"))
  }

  test("big-world.tif (global wrap) matches golden tiling; validate is green") {
    assumeReference("/root/reference/tests/big-world.tif")
    val out = tmp("bigworld.parquet")
    val meta = GeoTiff.convert(spark, "/root/reference/tests/big-world.tif", out)
    // goldens from tests/test_geotiff2raquet.py:365-389
    assert(meta.width == 1024 && meta.height == 1024)
    assert(meta.numBlocks == 16)
    assert(meta.maxZoom == 2 && meta.minZoom == 0 && meta.pixelZoom == 10)
    assert(meta.bands.head.nodata.isEmpty)
    assert(meta.bands.map(_.colorinterp.get) == Seq("red", "green", "blue", "alpha"))
    val report = graft.raquet.Maintenance.validate(spark, out).collect()
    assert(report.forall(_.getBoolean(1)),
      report.filterNot(_.getBoolean(1)).mkString(";"))
  }

  test("discreteloss (geographic uint8, nodata 0, deflate) matches golden tiling") {
    assumeReference("/root/reference/tests/geotiff-discreteloss_2023.tif")
    val out = tmp("loss.parquet")
    val meta = GeoTiff.convert(spark,
      "/root/reference/tests/geotiff-discreteloss_2023.tif", out,
      zoomStrategy = "upper")
    // goldens from tests/test_geotiff2raquet.py:300-331
    assert(meta.width == 1280 && meta.height == 1280)
    assert(meta.numBlocks == 25)
    assert(meta.maxZoom == 13 && meta.minZoom == 10 && meta.pixelZoom == 21)
    assert(meta.bands.head.nodata.contains(0.0))
    // binary loss mask: every valid pixel is exactly 1
    val st = meta.bands.head.stats.get
    assert(st == ((1.0, 1.0, 1.0, 0.0)))
    val report = graft.raquet.Maintenance.validate(spark, out).collect()
    assert(report.forall(_.getBoolean(1)),
      report.filterNot(_.getBoolean(1)).mkString(";"))
  }

  test("colored.tif: palette band with the reference's golden colortable") {
    assumeReference("/root/reference/tests/colored.tif")
    val out = tmp("colored.parquet")
    val meta = GeoTiff.convert(spark, "/root/reference/tests/colored.tif", out)
    // goldens from tests/test_geotiff2raquet.py:333-363
    assert(meta.bands.map(_.colorinterp.get) == Seq("palette"))
    val ct = meta.bands.head.colortable.get
    assert(ct("0") == Seq(0, 0, 0, 0))
    assert(ct("1") == Seq(0, 255, 0, 255))
    assert(ct("2") == Seq(0, 0, 255, 255))
    assert(ct("3") == Seq(255, 255, 0, 255))
    assert(ct("4") == Seq(255, 165, 0, 255))
    assert(ct("5") == Seq(255, 0, 0, 255))
    // colortable survives the metadata JSON round-trip
    val back = RaquetIO.readMetadata(spark, out)
    assert(back.bands.head.colortable.get("4") == Seq(255, 165, 0, 255))
  }

  test("geographic int16 twin: cubicspline keeps block-constant values, type and nodata") {
    // the n37 golden's path: geographic int16, uncompressed strips, nodata
    // −32767, zoomStrategy lower, cubicspline — on a 512×512 1-arcsecond
    // raster at (122.75°W, 37.875°N)
    val n = 512; val d = 1.0 / 3600
    val x0 = -122.75; val y0 = 37.875
    // constant on 64×64-px blocks, signed values −3000..3111
    def v(i: Int, j: Int): Int = ((j / 64) * 8 + i / 64) * 97 - 3000
    val strips = (0 until n / 64).iterator.map { s0 =>
      val bb = java.nio.ByteBuffer.allocate(64 * n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (j <- 0 until 64; i <- 0 until n) bb.putShort(v(i, s0 * 64 + j).toShort)
      bb.array()
    }
    val tif = tmp("geo16.tif")
    graft.raquet.TiffWriter.writeStrips(tif, n, n, "int16", 1, d, x0, y0,
      Some(-32767.0), 64, strips, epsg = 4326)
    val out = tmp("geo16.parquet")
    val meta = GeoTiff.convert(spark, tif, out, zoomStrategy = "lower",
      resampling = "cubicspline")
    // resolution = mercator window diagonal / pixel diagonal
    //   = hypot(512 · 30.92 m, 512 · 39.14 m) / hypot(512, 512) ≈ 35.27 m;
    // log2(CE / 2^8 / 35.27 m) = 12.12, which "lower" floors to 12
    assert(meta.maxZoom == 12, s"zoom ${meta.maxZoom}")
    assert(meta.bands.head.bandType == "int16")
    assert(meta.bands.head.nodata.contains(-32767.0))
    // The B-spline weights are renormalized to sum to 1 and reach 2 source
    // px past the sample, and a z20 target pixel (38.2 m) puts its sample
    // within 1 source px of the probe: at a block centre, ≥ 29 px from any
    // edge, the field is constant and stays so after rounding.
    import spark.implicits._
    import graft.functions.GraftFunctions.rq_raster_value
    val probes = (for (bi <- 0 until 8; bj <- 0 until 8) yield {
      val lon = x0 + (bi * 64 + 32 + 0.5) * d
      val lat = y0 - (bj * 64 + 32 + 0.5) * d
      (Quadbin.fromLonLat(lon, lat, meta.maxZoom), lon, lat,
        v(bi * 64 + 32, bj * 64 + 32).toDouble)
    }).toDF("block", "lon", "lat", "want")
    val got = RaquetIO.read(spark, out).data.join(probes, "block")
      .select(col("lon"), col("lat"), col("want"), rq_raster_value(col("band_1"),
        col("block"), col("lon"), col("lat"), meta, "band_1"))
      .collect()
    assert(got.length == 64, s"${got.length} of 64 probes land in a tile")
    got.foreach(r => assert(r.getDouble(3) == r.getDouble(2),
      s"probe (${r.getDouble(0)}, ${r.getDouble(1)})"))
  }

  test("geographic deflate nodata-0 mask twin: exact stats; validate is green") {
    // the discreteloss golden's path: geographic uint8, deflate tiles,
    // nodata 0, zoomStrategy upper — a 256×256 1-arcsecond mask at
    // (10°E, 45°N), 1 on a 16-px checkerboard and nodata elsewhere
    val n = 256; val d = 1.0 / 3600
    val mask = Array.tabulate(n * n)(p =>
      if ((p % n / 16 + p / n / 16) % 2 == 0) 1.0 else 0.0)
    val tif = tmp("mask.tif")
    graft.raquet.TiffWriter.writeTiled(tif, n, n, "uint8", Array(mask), d,
      10.0, 45.0, Some(0.0), tileW = 128, tileL = 128, compression = 8,
      epsg = 4326)
    val out = tmp("mask.parquet")
    val meta = GeoTiff.convert(spark, tif, out, zoomStrategy = "upper")
    // resolution = hypot(256 · 30.92 m, 256 · 43.70 m) / hypot(256, 256)
    // ≈ 37.86 m; log2(CE / 2^8 / 37.86 m) = 12.01, which "upper" ceils to 13
    assert(meta.maxZoom == 13, s"zoom ${meta.maxZoom}")
    assert(meta.bands.head.nodata.contains(0.0))
    // a nearest-neighbour warp only copies source pixels: every valid one
    // is 1, so min = max = mean = 1 and the stddev is 0
    val st = meta.bands.head.stats.get
    assert(st == ((1.0, 1.0, 1.0, 0.0)))
    val report = graft.raquet.Maintenance.validate(spark, out).collect()
    assert(report.forall(_.getBoolean(1)),
      report.filterNot(_.getBoolean(1)).mkString(";"))
  }

  test("global geographic twin: rows past ±85.0511° are clipped; validate is green") {
    // big-world's path: a 4-band geographic source spanning −180..180 ×
    // −90..90 at 360/1024 = 0.3515625° per pixel, no nodata
    val w = 1024; val h = 512; val d = 360.0 / w
    def v(b: Int, i: Int, j: Int): Int = (i + 3 * j + 50 * b) % 256
    val strips = (0 until h / 64).iterator.map { s0 =>
      val arr = new Array[Byte](64 * w * 4)
      for (j <- 0 until 64; i <- 0 until w; b <- 0 until 4)
        arr((j * w + i) * 4 + b) = v(b, i, s0 * 64 + j).toByte
      arr
    }
    val tif = tmp("world.tif")
    graft.raquet.TiffWriter.writeStrips(tif, w, h, "uint8", 4, d, -180.0, 90.0,
      None, 64, strips, epsg = 4326)
    // north clip row ⌈(90 − 85.0511) / 0.3515625⌉ = ⌈14.08⌉ = 15, south
    // ⌊(90 + 85.0511) / 0.3515625⌋ = ⌊497.92⌋ = 497; all columns stay
    assert(GeoTiff.pixelWindow(GeoTiff.readInfo(tif)) == ((0, 15, 1024, 482)))
    val out = tmp("world.parquet")
    val meta = GeoTiff.convert(spark, tif, out)
    // rows 15..497 span ±84.73°: resolution = hypot(CE, 0.98 CE) /
    // hypot(1024, 482) ≈ 49.57 km; log2(CE / 2^8 / 49.57 km) = 1.66 rounds
    // to 2. Min zoom = round(32 − log2(1.40 · 2^32 / 181) − 8) = round(−0.99)
    // = −1, clamped to 0. At z2 the window reaches all 4 × 4 tiles.
    assert(meta.maxZoom == 2 && meta.minZoom == 0 && meta.pixelZoom == 10)
    assert(meta.numBlocks == 16)
    assert(meta.width == 1024 && meta.height == 1024)
    assert(meta.bands.head.nodata.isEmpty)
    assert(meta.bands.map(_.colorinterp.get) == Seq("red", "green", "blue", "alpha"))
    val report = graft.raquet.Maintenance.validate(spark, out).collect()
    assert(report.forall(_.getBoolean(1)),
      report.filterNot(_.getBoolean(1)).mkString(";"))
  }

  test("palette twin: the ColorMap becomes the colortable; the nodata index is transparent") {
    // colored.tif's path: 1-band uint8, PhotometricInterpretation 3 with a
    // ColorMap (tag 320), nodata 0 — a hand-assembled classic TIFF on one
    // mercator-aligned z6 tile (32, 24), 256×256 px
    val n = 256
    val size = GeoTiff.CE / (1L << 6)
    val x0 = -GeoTiff.CE / 2 + 32 * size
    val y0 = GeoTiff.CE / 2 - 24 * size
    val px = size / n
    // the golden's six RGB entries, the rest of the 2^8 black
    val rgb = Seq((0, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0),
      (255, 165, 0), (255, 0, 0))
    def idx(i: Int, j: Int): Int = (i / 32 + j / 32) % 6
    val LE = java.nio.ByteOrder.LITTLE_ENDIAN
    val nTags = 16
    val ifdAt = 8
    val cmapAt = ifdAt + 2 + nTags * 12 + 4
    val scaleAt = cmapAt + 3 * 256 * 2; val tieAt = scaleAt + 24
    val geoAt = tieAt + 48; val dataAt = geoAt + 32
    val bb = java.nio.ByteBuffer.allocate(dataAt + n * n).order(LE)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdAt)
    def entry(id: Int, ttype: Int, count: Int, value: Int): Unit =
      bb.putShort(id.toShort).putShort(ttype.toShort).putInt(count).putInt(value)
    bb.putShort(nTags.toShort)
    entry(256, 3, 1, n); entry(257, 3, 1, n); entry(258, 3, 1, 8)
    entry(259, 3, 1, 1); entry(262, 3, 1, 3) // palette
    entry(273, 4, 1, dataAt); entry(277, 3, 1, 1); entry(278, 3, 1, n)
    entry(279, 4, 1, n * n); entry(284, 3, 1, 1)
    entry(320, 3, 3 * 256, cmapAt)
    entry(339, 3, 1, 1)
    entry(33550, 12, 3, scaleAt); entry(33922, 12, 6, tieAt)
    entry(34735, 3, 16, geoAt)
    entry(42113, 2, 2, '0'.toInt) // GDAL_NODATA "0\0", inline
    bb.putInt(0) // next IFD
    // ColorMap: all reds, then all greens, then all blues; 16-bit entries,
    // so an 8-bit channel c is stored as c × 257
    bb.position(cmapAt)
    for (ch <- 0 until 3; k <- 0 until 256) {
      val c = rgb.lift(k).map(t => Seq(t._1, t._2, t._3)(ch)).getOrElse(0)
      bb.putShort((c * 257).toShort)
    }
    bb.putDouble(px).putDouble(px).putDouble(0)
    bb.putDouble(0).putDouble(0).putDouble(0).putDouble(x0).putDouble(y0).putDouble(0)
    Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, 3857)
      .foreach(k => bb.putShort(k.toShort))
    for (j <- 0 until n; i <- 0 until n) bb.put(idx(i, j).toByte)
    val tif = tmp("palette.tif")
    java.nio.file.Files.write(java.nio.file.Paths.get(tif), bb.array())

    val out = tmp("palette.parquet")
    val meta = GeoTiff.convert(spark, tif, out)
    assert(meta.bands.map(_.colorinterp.get) == Seq("palette"))
    // pixels stay palette indices (not expanded to RGB): valid ones are 1..5
    val st = meta.bands.head.stats.get
    assert(st._1 == 1.0 && st._2 == 5.0, s"stats $st")
    // the reader's rule: each 16-bit entry >> 8 (c × 257 >> 8 = c), alpha
    // 255 except 0 for the nodata index
    val ct = meta.bands.head.colortable.get
    assert(ct.size == 256)
    assert(ct("0") == Seq(0, 0, 0, 0))
    assert(ct("1") == Seq(0, 255, 0, 255))
    assert(ct("2") == Seq(0, 0, 255, 255))
    assert(ct("3") == Seq(255, 255, 0, 255))
    assert(ct("4") == Seq(255, 165, 0, 255))
    assert(ct("5") == Seq(255, 0, 0, 255))
    assert(ct("6") == Seq(0, 0, 0, 255))
    // the colortable survives the metadata JSON round-trip
    assert(RaquetIO.readMetadata(spark, out).bands.head.colortable.get == ct)
  }

  test("UTM source (EPSG:32633) converts via the transverse-mercator warp") {
    val tif = tmp("utm33.tif")
    val w = 512; val h = 512
    val px = 100.0 // 100 m pixels ≈ 51.2 km square near Regensburg
    val x0 = 400000.0; val y0 = 5500000.0
    // value constant on 64×64-px (6.4 km) blocks so nearest-neighbour probes
    // well inside a block are insensitive to sub-pixel warp placement
    def v(i: Int, j: Int): Int = (j / 64) * 8 + i / 64
    val strips = (0 until h / 64).iterator.map { s0 =>
      val arr = new Array[Byte](64 * w)
      var j = 0
      while (j < 64) {
        var i = 0
        while (i < w) { arr(j * w + i) = v(i, s0 * 64 + j).toByte; i += 1 }
        j += 1
      }
      arr
    }
    graft.raquet.TiffWriter.writeStrips(tif, w, h, "uint8", 1, px, x0, y0,
      None, 64, strips, epsg = 32633)

    val src = GeoTiff.readInfo(tif)
    assert(!src.geographic)
    assert(src.proj.isInstanceOf[graft.geo.TransverseMercator])

    val out = tmp("utm33.parquet")
    val meta = GeoTiff.convert(spark, tif, out)
    assert(meta.crs == "EPSG:3857")
    // 100 m ground ≈ 154 m mercator at lat ~49.4-50.1 → zoom 10 (152.9 m/px)
    assert(meta.maxZoom == 10, s"zoom ${meta.maxZoom}")
    // bounds must cover the raster's true lon/lat envelope
    val utm = src.proj
    val cornerLls = Seq((x0, y0), (x0 + w * px, y0), (x0, y0 - h * px),
      (x0 + w * px, y0 - h * px)).map { case (e, n) => utm.toLonLat(e, n) }
    assert(meta.bounds(0) <= cornerLls.map(_._1).min)
    assert(meta.bounds(2) >= cornerLls.map(_._1).max)
    assert(meta.bounds(1) <= cornerLls.map(_._2).min)
    assert(meta.bounds(3) >= cornerLls.map(_._2).max)

    // probe every block interior: source px (bi·64+32, bj·64+32) center
    val ds = RaquetIO.read(spark, out)
    val kernel = graft.raquet.BandKernel(meta, "band_1")
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions.col
    for (bi <- 0 until 8; bj <- 0 until 8) {
      val e = x0 + (bi * 64 + 32 + 0.5) * px
      val n = y0 - (bj * 64 + 32 + 0.5) * px
      val (lon, lat) = utm.toLonLat(e, n)
      val cell = graft.quadbin.Quadbin.fromLonLat(lon, lat, meta.maxZoom)
      val got = ds.data.filter(col("block") === cell)
        .select(rq_raster_value(col("band_1"), col("block"),
          org.apache.spark.sql.functions.lit(lon),
          org.apache.spark.sql.functions.lit(lat), meta, "band_1"))
        .collect()
      assert(got.length == 1, s"block ($bi,$bj): no covering tile")
      assert(got(0).getDouble(0) == v(bi * 64 + 32, bj * 64 + 32).toDouble,
        s"block ($bi,$bj)")
    }
  }

  test("LCC source (user-defined geokeys, Lambert-93 params) converts end to end") {
    val tif = tmp("lcc93.tif")
    val w = 512; val h = 512
    val px = 100.0 // 51.2 km square near Paris
    val x0 = 650000.0; val y0 = 6870000.0
    def v(i: Int, j: Int): Int = (j / 64) * 8 + i / 64
    val strips = (0 until h / 64).iterator.map { s0 =>
      val arr = new Array[Byte](64 * w)
      for (j <- 0 until 64; i <- 0 until w) arr(j * w + i) = v(i, s0 * 64 + j).toByte
      arr
    }
    // user-defined projected CRS: CT_LambertConfConic_2SP with the RGF93 /
    // Lambert-93 parameters in GeoDoubleParams
    val geoKeys = Seq(
      1, 1, 0, 8,
      1024, 0, 1, 1, // projected
      1025, 0, 1, 1,
      3072, 0, 1, 32767, // user-defined PCS
      3075, 0, 1, 8, // CT_LambertConfConic_2SP
      3078, 34736, 1, 0, 3079, 34736, 1, 1, // std parallels
      3084, 34736, 1, 2, 3085, 34736, 1, 3) // false origin lon/lat
    val dbl = Seq(49.0, 44.0, 3.0, 46.5)
    // false easting/northing omitted → default 0; shift origin accordingly
    val (fe, fn) = (700000.0, 6600000.0)
    graft.raquet.TiffWriter.writeStrips(tif, w, h, "uint8", 1, px,
      x0 - fe, y0 - fn, None, 64, strips,
      geoKeysOverride = Some((geoKeys, dbl)))

    val src = GeoTiff.readInfo(tif)
    assert(src.proj.isInstanceOf[graft.geo.LambertConformalConic])
    assert(!src.proj.rectilinear)

    val out = tmp("lcc93.parquet")
    val meta = GeoTiff.convert(spark, tif, out)
    assert(meta.crs == "EPSG:3857")
    val lcc = src.proj
    // probe every 64-px block interior (UTM-test pattern): nearest-neighbour
    // warp must reproduce the block-constant source value
    val ds = RaquetIO.read(spark, out)
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions.{col, lit}
    for (bi <- 0 until 8; bj <- 0 until 8) {
      val e = (x0 - fe) + (bi * 64 + 32 + 0.5) * px
      val n = (y0 - fn) - (bj * 64 + 32 + 0.5) * px
      val (lon, lat) = lcc.toLonLat(e, n)
      val cell = graft.quadbin.Quadbin.fromLonLat(lon, lat, meta.maxZoom)
      val got = ds.data.filter(col("block") === cell)
        .select(rq_raster_value(col("band_1"), col("block"),
          lit(lon), lit(lat), meta, "band_1"))
        .collect()
      assert(got.length == 1, s"block ($bi,$bj): no covering tile")
      assert(got(0).getDouble(0) == v(bi * 64 + 32, bj * 64 + 32).toDouble,
        s"block ($bi,$bj)")
    }
  }

  test("sinusoidal (MODIS-style) source converts end to end") {
    // MODIS-grid shape: CT_Sinusoidal (24) on the authalic SPHERE
    // R = 6371007.181 (inv-flattening written as 0 — must not default to
    // the WGS84 ellipsoid), center lon 0, 250 m pixels at ~40°N
    val tif = tmp("sinu.tif")
    val w = 512; val h = 512
    val px = 250.0
    val R = 6371007.181
    val x0 = 1000000.0; val y0 = 4448000.0
    def v(i: Int, j: Int): Int = (j / 64) * 8 + i / 64
    val strips = (0 until h / 64).iterator.map { s0 =>
      val arr = new Array[Byte](64 * w)
      for (j <- 0 until 64; i <- 0 until w) arr(j * w + i) = v(i, s0 * 64 + j).toByte
      arr
    }
    val geoKeys = Seq(
      1, 1, 0, 6,
      1024, 0, 1, 1, // projected
      1025, 0, 1, 1,
      3072, 0, 1, 32767, // user-defined PCS
      3075, 0, 1, 24, // CT_Sinusoidal
      2057, 34736, 1, 0, // semi-major = MODIS sphere
      2059, 34736, 1, 1) // inv-flattening 0 => sphere
    val dbl = Seq(R, 0.0)
    graft.raquet.TiffWriter.writeStrips(tif, w, h, "uint8", 1, px,
      x0, y0, None, 64, strips, geoKeysOverride = Some((geoKeys, dbl)))

    val src = GeoTiff.readInfo(tif)
    assert(src.proj == graft.geo.Sinusoidal(R, 0.0, 0.0, 0.0, 0.0))

    val out = tmp("sinu.parquet")
    val meta = GeoTiff.convert(spark, tif, out)
    assert(meta.crs == "EPSG:3857")
    val ds = RaquetIO.read(spark, out)
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions.{col, lit}
    for (bi <- 0 until 8; bj <- 0 until 8) {
      val e = x0 + (bi * 64 + 32 + 0.5) * px
      val n = y0 - (bj * 64 + 32 + 0.5) * px
      val (lon, lat) = src.proj.toLonLat(e, n)
      val cell = graft.quadbin.Quadbin.fromLonLat(lon, lat, meta.maxZoom)
      val got = ds.data.filter(col("block") === cell)
        .select(rq_raster_value(col("band_1"), col("block"),
          lit(lon), lit(lat), meta, "band_1"))
        .collect()
      assert(got.length == 1, s"block ($bi,$bj): no covering tile")
      assert(got(0).getDouble(0) == v(bi * 64 + 32, bj * 64 + 32).toDouble,
        s"block ($bi,$bj)")
    }
  }

  test("overviews=none and min-zoom override control the pyramid (cli.py:393-403)") {
    val outNone = tmp("eu_none.parquet")
    val mNone = GeoTiff.convert(spark, europeTwin, outNone, overviews = "none")
    assert(mNone.minZoom == 5 && mNone.maxZoom == 5)
    // native only: z5 tiles x 16-19 × y 8-11
    assert(RaquetIO.read(spark, outNone).data.count() == 16)

    val outZ4 = tmp("eu_z4.parquet")
    val mZ4 = GeoTiff.convert(spark, europeTwin, outZ4, minZoomOverride = Some(4))
    assert(mZ4.minZoom == 4)
    // 16 native + their 4 z4 parents (x 8-9 × y 4-5)
    assert(RaquetIO.read(spark, outZ4).data.count() == 20)
  }

  test("convert with a convolution overview kernel matches a direct halo build") {
    import graft.functions.GraftFunctions.quadbin_zoom
    val out = tmp("eu_cubic.parquet")
    val meta = GeoTiff.convert(spark, europeTwin, out, overviewResampling = "cubic")
    val ds = RaquetIO.read(spark, out)
    def tiles(z: Int, df: org.apache.spark.sql.DataFrame) = df
      .filter(quadbin_zoom(col("block")) === z)
      .select("block", "band_1").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val native = ds.data.filter(quadbin_zoom(col("block")) === meta.maxZoom)
    val expect = tiles(meta.maxZoom - 1, graft.raquet.Pyramid
      .buildLevelConvolved(native, meta, meta.maxZoom - 1, "cubic"))
    val got = tiles(meta.maxZoom - 1, ds.data)
    assert(got.keySet == expect.keySet)
    assert(got.keySet.forall(k => got(k) == expect(k)), "overview blobs differ")
  }

  test("target-size convert writes a Morton-sorted multi-file directory") {
    val out = tmp("eu_split")
    // hashed bytes do not deflate: a native row is ≈ 4 × 65,536 B, so the
    // cap holds ⌊400,000 / 262,208⌋ = 1 row per file
    val meta = GeoTiff.convert(spark, europeTwin, out, targetFileBytes = 400000)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(parts.length >= 2, s"${parts.length} part files")
    val ds = RaquetIO.read(spark, out)
    // 16 (z5) + 4 (z4) + 1 (z3) + 1 (z2); min zoom = round(32 −
    // log2(7.59e8 / 181) − 8) = 2 for the twin's 45° × 25.5° bounds
    assert(ds.data.count() == 22)
    assert(ds.meta.numBlocks == meta.numBlocks)
  }

  test("UTM warp approximation matches the exact per-pixel transform") {
    // high latitude (~63°N) maximizes meridian convergence — the worst case
    // for the scanline linear approximation
    val utm = graft.geo.Projection.fromEpsg(32633).get
    val s = GeoTiff.SourceInfo("mem", 4000, 4000, 1, "uint16", None,
      300000.0, 30.0, 7000000.0, -30.0, utm, None)
    val sampler = new GeoTiff.PixelSampler {
      def sample(band: Int, px: Int, py: Int): Double =
        ((px * 31 + py * 17) % 1000).toDouble
    }
    val (clon, clat) = utm.toLonLat(300000.0 + 2000 * 30, 7000000.0 - 2000 * 30)
    val z = 11 // 30 m ground ≈ 66 m mercator at 63°N → ~76 m/px tiles
    val cell = graft.quadbin.Quadbin.fromLonLat(clon, clat, z)
    val tx = graft.quadbin.Quadbin.tileX(cell)
    val ty = graft.quadbin.Quadbin.tileY(cell)
    val win = (0, 0, 4000, 4000)
    val out = GeoTiff.warpTile(s, sampler, 0, tx, ty, z, 256, win)
    assert(out != null)
    val size = GeoTiff.CE / (1L << z)
    val west = -GeoTiff.CE / 2 + tx * size
    val north = GeoTiff.CE / 2 - ty * size
    val step = size / 256
    var mismatches = 0
    for (j <- 0 until 256; i <- 0 until 256) {
      val mx = west + (i + 0.5) * step
      val my = north - (j + 0.5) * step
      val (e, n) = utm.fromLonLat(GeoTiff.invLon(mx), GeoTiff.invLat(my))
      val u = math.floor((e - 300000.0) / 30.0).toInt
      val v = math.floor((7000000.0 - n) / 30.0).toInt
      val exact = sampler.sample(0, u, v)
      if (out(j * 256 + i) != exact) {
        mismatches += 1
        // an approximation miss may only pick an adjacent source pixel
        val nbrs = for (dj <- -1 to 1; di <- -1 to 1)
          yield sampler.sample(0, u + di, v + dj)
        assert(nbrs.contains(out(j * 256 + i)), s"px ($i,$j)")
      }
    }
    // the 1/64-px error budget can flip NN only within 1/64 px of a source
    // pixel boundary
    assert(mismatches < 256 * 256 / 50, s"$mismatches NN mismatches")
  }

  test("antimeridian-crossing UTM source fails loudly instead of world-tiling") {
    val tif = tmp("z60cross.tif")
    // zone 60N (CM 177°E): eastings 800–920 km reach past 180° at the equator
    graft.raquet.TiffWriter.writeStrips(tif, 4, 4, "uint8", 1, 30000.0,
      800000.0, 200000.0, None, 4, Iterator(new Array[Byte](16)), epsg = 32660)
    val ex = intercept[IllegalArgumentException](GeoTiff.convert(spark, tif, tmp("z60.parquet")))
    assert(ex.getMessage.contains("antimeridian"))
  }

  test("user-defined polar stereo: 3092 presence does NOT imply variant A") {
    // GDAL/libgeotiff write ProjScaleAtNatOriginGeoKey (3092, = 1.0) even
    // for variant-B (standard parallel) files: the discriminator is the
    // origin latitude (±90° = variant A / UPS shape, else lat_ts).
    def writePs(name: String, originLat: Double, k0: Double): String = {
      val tif = tmp(name)
      val geoKeys = Seq(
        1, 1, 0, 7,
        1024, 0, 1, 1, 1025, 0, 1, 1,
        3072, 0, 1, 32767,
        3075, 0, 1, 15, // CT_PolarStereographic
        3081, 34736, 1, 0, // origin lat / std parallel
        3095, 34736, 1, 1, // straight vertical pole lon
        3092, 34736, 1, 2) // scale at natural origin
      graft.raquet.TiffWriter.writeStrips(tif, 4, 4, "uint8", 1, 1000.0,
        0.0, -6000000.0, None, 4, Iterator(new Array[Byte](16)),
        geoKeysOverride = Some((geoKeys, Seq(originLat, 0.0, k0))))
      tif
    }
    // variant B: lat_ts=-71 with GDAL's redundant 3092=1.0 → must NOT
    // be read as variant A (k0=1 at the pole would shift 71°S ~58 km)
    val b = GeoTiff.readInfo(writePs("psB.tif", -71.0, 1.0))
    assert(b.proj.isInstanceOf[graft.geo.PolarStereographic], b.proj)
    assert(b.proj == graft.geo.Projection.fromEpsg(3031).get)
    // variant A: origin AT the pole picks up k0 from 3092 (UPS south)
    val a = GeoTiff.readInfo(writePs("psA.tif", -90.0, 0.994))
    assert(a.proj.isInstanceOf[graft.geo.PolarStereographicA], a.proj)
    val ups = a.proj.asInstanceOf[graft.geo.PolarStereographicA]
    assert(ups.k0 == 0.994 && !ups.north)
  }

  test("unsupported projected CRS still fails loudly; UPS now reads") {
    // 32661 (UPS North) joined the supported set (PolarStereographicA)
    val ups = tmp("ups.tif")
    graft.raquet.TiffWriter.writeStrips(ups, 4, 4, "uint8", 1, 100.0, 2e6, 2e6 + 400,
      None, 4, Iterator(new Array[Byte](16)), epsg = 32661)
    assert(GeoTiff.readInfo(ups).width == 4)
    // 27700 (OSGB non-UTM transverse mercator) is not
    val tif = tmp("osgb.tif")
    graft.raquet.TiffWriter.writeStrips(tif, 4, 4, "uint8", 1, 100.0, 0.0, 0.0,
      None, 4, Iterator(new Array[Byte](16)), epsg = 27700)
    val ex = intercept[IllegalArgumentException](GeoTiff.readInfo(tif))
    assert(ex.getMessage.contains("EPSG:27700"))
  }

  test("export: fixture mosaics to a GeoTIFF the JDK reader round-trips") {
    val out = tmp("export.tif")
    GeoTiff.export(spark, "src/test/resources/raquet/gradient16.parquet", out)
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.File(out))
    val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
    reader.setInput(iis)
    val img = reader.read(0)
    assert(img.getWidth == 128 && img.getHeight == 128)
    assert(img.getRaster.getNumBands == 2) // uint8+float32 promoted to float64
    // mosaic origin = tile (32,24); pixel (i,j) = band_1 formula at gx=512+i
    val raster = img.getRaster
    for ((i, j) <- Seq((0, 0), (5, 3), (127, 127), (64, 31))) {
      val exp = graft.raquet.FixtureGen.v1(512 + i, 384 + j)
      assert(raster.getSampleDouble(i, j, 0) == exp, s"pixel ($i,$j)")
    }
    reader.dispose(); iis.close()
    // geo tags survive a read through our own parser
    val src = GeoTiff.read(out)
    assert(src.width == 128 && src.bands == 2)
    assert(src.dtype == "float64")
    assert(!src.geographic)
    assert(math.abs(src.x0 - GeoTiff.mercX(Quadbin.tileWest(32, 6))) < 1e-6)
  }

  test("BigTIFF: forced-big streamed write reads back via the direct strip path") {
    val tif = tmp("big.tif")
    val w = 96; val h = 80
    val bands = Array.tabulate(2)(b =>
      Array.tabulate(w * h)(p => ((p * 31 + b * 7919) % 4001).toDouble))
    // writeStrips with forceBig: same strip slicing as write()
    val rowsPerStrip = 64
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val bpp = 2
    val strips = (0 until nStrips).iterator.map { s0 =>
      val rows = math.min(rowsPerStrip, h - s0 * rowsPerStrip)
      val bb = java.nio.ByteBuffer.allocate(rows * w * 2 * bpp)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (p0 <- s0 * rowsPerStrip * w until (s0 * rowsPerStrip + rows) * w; b <- 0 until 2)
        bb.putShort(bands(b)(p0).toInt.toShort)
      bb.array()
    }
    graft.raquet.TiffWriter.writeStrips(tif, w, h, "uint16", 2,
      pixelSize = 10.0, originX = -480.0, originY = 400.0,
      nodata = Some(0.0), rowsPerStrip = rowsPerStrip, strips, forceBig = true)
    // header says BigTIFF
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif)).take(4)
    assert(head(2) == 43.toByte && head(3) == 0.toByte)
    // full read goes through readWindowDirect (ImageIO cannot open 43)
    val src = GeoTiff.read(tif)
    assert(src.width == w && src.height == h && src.bands == 2)
    assert(src.dtype == "uint16" && src.nodata.contains(0.0))
    assert(src.dx == 10.0 && src.x0 == -480.0 && src.y0 == 400.0)
    val diffs = for (j <- 0 until h; i <- 0 until w; b <- 0 until 2)
      yield math.abs(src.sample(b, i, j) - bands(b)(j * w + i))
    assert(diffs.max == 0.0)
    // windowed read matches too (offset window, partial strips)
    val win = GeoTiff.readWindowDirect(tif, 13, 57, 40, 20)
    for (j <- 0 until 20; i <- 0 until 40; b <- 0 until 2)
      assert(win.getSampleDouble(i, j, b) == bands(b)((57 + j) * w + (13 + i)))
    // and the full S6 ingest runs off the BigTIFF source (tasks pull their
    // windows through the direct strip path)
    val rq = tmp("big-rq.parquet")
    val meta = GeoTiff.convert(spark, tif, rq)
    assert(meta.numBlocks > 0)
    val back = RaquetIO.read(spark, rq)
    assert(back.data.filter(col("block") =!= 0).count() == meta.numBlocks)
  }

  test("BigTIFF: big-endian deflate predictor-2 strips decode exactly") {
    val w = 8; val h = 6; val nb = 2; val rps = 4
    def v(i: Int, j: Int, b: Int): Int = (i * 13 + j * 29 + b * 517) % 65536
    // interleaved rows, predictor-2 deltas per band, deflate per strip
    def stripBytes(j0: Int, rows: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(rows * w * nb * 2)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      for (j <- j0 until j0 + rows; i <- 0 until w; b <- 0 until nb) {
        val d = if (i == 0) v(i, j, b) else v(i, j, b) - v(i - 1, j, b)
        bb.putShort(d.toShort)
      }
      val def0 = new java.util.zip.Deflater()
      def0.setInput(bb.array()); def0.finish()
      val out = new Array[Byte](bb.capacity() * 2 + 64)
      val n = def0.deflate(out)
      def0.end()
      java.util.Arrays.copyOf(out, n)
    }
    val s1 = stripBytes(0, 4); val s2 = stripBytes(4, 2)
    // hand-assembled big-endian BigTIFF: header, IFD (11 entries), payloads, strips
    val nTags = 11
    val ifdAt = 16L
    val ifdSize = 8 + nTags * 20 + 8
    var cur = ifdAt + ifdSize
    val offsetsAt = cur; cur += 16
    val countsAt = cur; cur += 16
    val dataAt = cur
    val total = (dataAt + s1.length + s2.length).toInt
    val bb = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put('M'.toByte).put('M'.toByte).putShort(43).putShort(8).putShort(0).putLong(ifdAt)
    bb.putLong(nTags.toLong)
    def entry(id: Int, ttype: Int, count: Long, value: Long): Unit = {
      bb.putShort(id.toShort).putShort(ttype.toShort).putLong(count).putLong(value)
    }
    def inlineShorts(vs: Int*): Long = {
      // big-endian inline payload packs from byte 0 of the 8-byte value field
      val b8 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
      vs.foreach(v0 => b8.putShort(v0.toShort))
      b8.getLong(0)
    }
    entry(256, 3, 1, inlineShorts(w))
    entry(257, 3, 1, inlineShorts(h))
    entry(258, 3, 2, inlineShorts(16, 16))
    entry(259, 3, 1, inlineShorts(8)) // deflate
    entry(273, 16, 2, offsetsAt)
    entry(277, 3, 1, inlineShorts(nb))
    entry(278, 3, 1, inlineShorts(rps))
    entry(279, 16, 2, countsAt)
    entry(284, 3, 1, inlineShorts(1))
    entry(317, 3, 1, inlineShorts(2)) // predictor 2
    entry(339, 3, 2, inlineShorts(1, 1))
    bb.putLong(0L) // next IFD
    bb.putLong(dataAt).putLong(dataAt + s1.length)
    bb.putLong(s1.length.toLong).putLong(s2.length.toLong)
    bb.put(s1).put(s2)
    val tif = tmp("be-deflate.tif")
    java.nio.file.Files.write(java.nio.file.Paths.get(tif), bb.array())
    // windowed decode straddling the strip boundary
    val win = GeoTiff.readWindowDirect(tif, 2, 1, 5, 5)
    for (j <- 0 until 5; i <- 0 until 5; b <- 0 until nb)
      assert(win.getSampleDouble(i, j, b) == v(2 + i, 1 + j, b),
        s"pixel ($i,$j,$b)")
  }

  test("BigTIFF multi-image: COG layout round-trips through the direct reader") {
    val w = 64; val h = 48
    def img(scale: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate((w / scale) * (h / scale))
      for (p0 <- 0 until (w / scale) * (h / scale)) bb.put(((p0 * 7 + scale) % 251).toByte)
      bb.array()
    }
    val tif = tmp("big-cog.tif")
    graft.raquet.TiffWriter.writeImages(tif, "uint8", 1,
      pixelSize = 4.0, originX = -128.0, originY = 96.0, nodata = Some(255.0),
      images = Seq(
        graft.raquet.TiffWriter.TiffImage(w, h, 16, () => {
          val d = img(1)
          (0 until 3).iterator.map(si => java.util.Arrays.copyOfRange(d, si * 16 * w, (si + 1) * 16 * w))
        }),
        graft.raquet.TiffWriter.TiffImage(w / 2, h / 2, 16, () => {
          val d = img(2)
          (0 until 2).iterator.map(si =>
            java.util.Arrays.copyOfRange(d, si * 16 * (w / 2),
              math.min(d.length, (si + 1) * 16 * (w / 2))))
        }, reduced = true)),
      forceBig = true)
    val headBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif)).take(4)
    assert(headBytes(2) == 43.toByte)
    val base = GeoTiff.readInfo(tif)
    assert(base.width == w && base.height == h && base.nodata.contains(255.0))
    val ovs = GeoTiff.readOverviews(tif)
    assert(ovs.size == 1 && ovs.head.width == w / 2 && ovs.head.dx == 8.0)
    val d0 = img(1); val d1 = img(2)
    val r0 = GeoTiff.readWindowDirect(tif, 0, 0, w, h, ifd = 0)
    for (j <- 0 until h; i <- 0 until w)
      assert(r0.getSampleDouble(i, j, 0) == (d0(j * w + i) & 0xFF).toDouble)
    val r1 = GeoTiff.readWindowDirect(tif, 0, 0, w / 2, h / 2, ifd = 1)
    for (j <- 0 until h / 2; i <- 0 until w / 2)
      assert(r1.getSampleDouble(i, j, 0) == (d1(j * w / 2 + i) & 0xFF).toDouble)
  }

  test("writer dims past 65535 survive (LONG-typed width/height tags)") {
    val w = 70000; val h = 2
    val tif = tmp("wide.tif")
    val strips = Iterator.single(Array.tabulate(w * h)(i => (i % 251).toByte))
    graft.raquet.TiffWriter.writeStrips(tif, w, h, "uint8", 1,
      pixelSize = 1.0, originX = 0.0, originY = 0.0, nodata = None,
      rowsPerStrip = h, strips)
    val info = GeoTiff.readInfo(tif)
    assert(info.width == w && info.height == h)
    val r = GeoTiff.readWindowRaster(tif, 69990, 0, 10, 2)
    for (j <- 0 until 2; i <- 0 until 10)
      assert(r.getSampleDouble(i, j, 0) == ((j * w + 69990 + i) % 251).toDouble)
  }

  /** The JDK TIFF plugin's decode of a whole classic TIFF: the reference
    * the direct reader is checked against. */
  private def imageIORaster(tif: String): java.awt.image.Raster = {
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.File(tif))
    try {
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      reader.setInput(iis)
      try reader.read(0).getRaster finally reader.dispose()
    } finally iis.close()
  }

  test("LZW: direct strip decode matches ImageIO on a JDK-written LZW file") {
    // the JDK TIFF writer produces LZW classic files: differential-test
    // the direct reader against the JDK plugin's own decode
    val w = 200; val h = 90
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (j <- 0 until h; i <- 0 until w)
      img.setRGB(i, j, ((i * 7919 + j * 104729) % 0xFFFFFF))
    val tif = tmp("lzw.tif")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(new java.io.File(tif))
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose(); ios.close()
    // confirm the file really is LZW (tag 259 = 5)
    val info = imageIORaster(tif) // the JDK plugin's decode
    val direct = GeoTiff.readWindowDirect(tif, 0, 0, w, h)
    for (j <- 0 until h; i <- 0 until w; b <- 0 until 3)
      assert(direct.getSampleDouble(i, j, b) == info.getSampleDouble(i, j, b),
        s"pixel ($i,$j,$b)")
    // windowed read straddling strip boundaries agrees too
    val dw = GeoTiff.readWindowDirect(tif, 37, 11, 60, 70)
    for (j <- 0 until 70; i <- 0 until 60; b <- 0 until 3)
      assert(dw.getSampleDouble(i, j, b) == info.getSampleDouble(37 + i, 11 + j, b))
  }

  test("tiled layout: direct decode ≡ strip decode on the same pixels") {
    // same bands through the strip writer and the tiled writer (tile size
    // NOT dividing the image: right/bottom edge tiles are padded) must
    // produce identical pixels through the direct reader — the layout is
    // an encoding detail, not a semantic one
    val w = 150; val h = 70; val nb = 2
    val bands = Array.tabulate(nb)(b =>
      Array.tabulate(w * h)(p => ((p * 17 + b * 4099) % 60000).toDouble))
    val sTif = tmp("layout-strips.tif"); val tTif = tmp("layout-tiles.tif")
    graft.raquet.TiffWriter.write(sTif, w, h, "uint16", bands,
      pixelSize = 10.0, originX = 0.0, originY = 700.0, nodata = None)
    graft.raquet.TiffWriter.writeTiled(tTif, w, h, "uint16", bands,
      pixelSize = 10.0, originX = 0.0, originY = 700.0, nodata = None,
      tileW = 64, tileL = 32, compression = 8)
    val rs = GeoTiff.readWindowDirect(sTif, 0, 0, w, h)
    val rt = GeoTiff.readWindowDirect(tTif, 0, 0, w, h)
    for (j <- 0 until h; i <- 0 until w; b <- 0 until nb)
      assert(rt.getSampleDouble(i, j, b) == rs.getSampleDouble(i, j, b),
        s"pixel ($i,$j,$b)")
    // windows straddling tile boundaries in both axes
    for ((wx, wy, ww2, wh2) <- Seq((60, 28, 10, 10), (0, 0, 65, 33),
        (149, 69, 1, 1), (120, 40, 30, 30))) {
      val ws = GeoTiff.readWindowDirect(sTif, wx, wy, ww2, wh2)
      val wt = GeoTiff.readWindowDirect(tTif, wx, wy, ww2, wh2)
      for (j <- 0 until wh2; i <- 0 until ww2; b <- 0 until nb)
        assert(wt.getSampleDouble(i, j, b) == ws.getSampleDouble(i, j, b),
          s"window ($wx,$wy,$ww2,$wh2) pixel ($i,$j,$b)")
    }
  }

  test("tiled BigTIFF: float32 tiles convert end-to-end") {
    val w = 96; val h = 96
    val bands = Array(Array.tabulate(w * h)(p => (p % 977).toDouble / 4.0))
    val tif = tmp("tiled-big.tif")
    graft.raquet.TiffWriter.writeTiled(tif, w, h, "float32", bands,
      pixelSize = 4.0, originX = -192.0, originY = 192.0, nodata = Some(-1.0),
      tileW = 48, tileL = 48, compression = 8, forceBig = true)
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tif)).take(4)
    assert(head(2) == 43.toByte, "must be BigTIFF (version 43)")
    val src = GeoTiff.read(tif) // goes through readWindowDirect
    assert(src.dtype == "float32" && src.nodata.contains(-1.0))
    for (j <- 0 until h; i <- 0 until w)
      assert(src.sample(0, i, j) == ((j * w + i) % 977).toDouble / 4.0f)
    val rq = tmp("tiled-big-rq.parquet")
    val meta = GeoTiff.convert(spark, tif, rq)
    assert(meta.numBlocks > 0)
  }

  test("tiled: hand-built big-endian classic tiled TIFF decodes exactly") {
    // 12x10 uint8, 8x8 tiles => 2x2 grid, right/bottom tiles padded; MM
    // byte order, uncompressed — the layout a big-endian writer (or an
    // old Sun workstation) would produce
    val w = 12; val h = 10; val tw = 8; val tl = 8
    def v(i: Int, j: Int): Int = (i * 11 + j * 23) % 256
    def tileBytes(tc: Int, trow: Int): Array[Byte] =
      Array.tabulate(tw * tl) { p =>
        val i = tc * tw + p % tw; val j = trow * tl + p / tw
        (if (i < w && j < h) v(i, j) else 0).toByte
      }
    val tiles = Seq(tileBytes(0, 0), tileBytes(1, 0), tileBytes(0, 1), tileBytes(1, 1))
    val nTags = 10
    val ifdAt = 8L
    val ifdSize = 2 + nTags * 12 + 4
    var cur = ifdAt + ifdSize
    val offsetsAt = cur; cur += 16 // 4 LONG offsets
    val countsAt = cur; cur += 16
    val dataAt = cur
    val bb = java.nio.ByteBuffer.allocate((dataAt + 4 * tw * tl).toInt)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdAt.toInt)
    bb.putShort(nTags.toShort)
    def entry(id: Int, ttype: Int, count: Int, value: Long): Unit = {
      bb.putShort(id.toShort).putShort(ttype.toShort).putInt(count)
      if (ttype == 3) { bb.putShort(value.toShort); bb.putShort(0) }
      else bb.putInt(value.toInt)
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h)
    entry(258, 3, 1, 8); entry(259, 3, 1, 1)
    entry(277, 3, 1, 1); entry(284, 3, 1, 1)
    entry(322, 3, 1, tw); entry(323, 3, 1, tl)
    entry(324, 4, 4, offsetsAt); entry(325, 4, 4, countsAt)
    bb.putInt(0) // next IFD
    tiles.indices.foreach(k => bb.putInt((dataAt + k * tw * tl).toInt))
    tiles.foreach(t => bb.putInt(t.length))
    tiles.foreach(bb.put)
    val tif = tmp("be-tiled.tif")
    java.nio.file.Files.write(java.nio.file.Paths.get(tif), bb.array())
    val full = GeoTiff.readWindowDirect(tif, 0, 0, w, h)
    for (j <- 0 until h; i <- 0 until w)
      assert(full.getSampleDouble(i, j, 0) == v(i, j).toDouble, s"pixel ($i,$j)")
    // window crossing all four tiles
    val win = GeoTiff.readWindowDirect(tif, 6, 6, 5, 4)
    for (j <- 0 until 4; i <- 0 until 5)
      assert(win.getSampleDouble(i, j, 0) == v(6 + i, 6 + j).toDouble)
  }

  test("tiled: direct decode matches ImageIO on a JDK-written tiled LZW file") {
    // external-producer check: the JDK TIFF writer emits its own tiled LZW
    // layout; the direct reader must agree with the JDK's own decode
    val w = 130; val h = 75
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (j <- 0 until h; i <- 0 until w)
      img.setRGB(i, j, ((i * 104729 + j * 7919) % 0xFFFFFF))
    val tif = tmp("jdk-tiled-lzw.tif")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(new java.io.File(tif))
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setTiling(32, 32, 0, 0)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose(); ios.close()
    val ref = imageIORaster(tif) // the JDK plugin's decode
    val direct = GeoTiff.readWindowDirect(tif, 0, 0, w, h)
    for (j <- 0 until h; i <- 0 until w; b <- 0 until 3)
      assert(direct.getSampleDouble(i, j, b) == ref.getSampleDouble(i, j, b),
        s"pixel ($i,$j,$b)")
    val dw = GeoTiff.readWindowDirect(tif, 25, 30, 70, 40)
    for (j <- 0 until 40; i <- 0 until 70; b <- 0 until 3)
      assert(dw.getSampleDouble(i, j, b) == ref.getSampleDouble(25 + i, 30 + j, b))
  }

  test("JPEG-in-TIFF: windowed direct reads match the committed golden decode") {
    // the committed fixture (BigTIFF, YCbCr, shared JPEGTables) must decode
    // to the golden parquet's pixels — full image and windows crossing
    // tile boundaries (the window plumbing must not re-decode wrongly)
    val tif = "src/test/resources/tiff/jpeg_tiled.tif"
    val golden = spark.read.parquet("src/test/resources/tiff/jpeg_tiled_golden.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    val full = GeoTiff.readWindowDirect(tif, 0, 0, 512, 512)
    for (j <- 0 until 512 by 7; i <- 0 until 512 by 7; b <- 0 until 3)
      assert(full.getSampleDouble(i, j, b) == golden((i, j, b + 1)).toDouble,
        s"pixel ($i,$j,$b)")
    val win = GeoTiff.readWindowDirect(tif, 120, 250, 20, 16)
    for (j <- 0 until 16; i <- 0 until 20; b <- 0 until 3)
      assert(win.getSampleDouble(i, j, b) == golden((120 + i, 250 + j, b + 1)).toDouble)
  }

  test("JPEG-in-TIFF: classic layout and self-contained streams (no tables tag)") {
    // a producer may skip the JPEGTables tag and write full per-tile
    // streams; grayscale single-band JPEG is also legal
    val w = 96; val h = 64; val tw = 32; val tl = 32
    def encodeGray(tc: Int, tr: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(tw, tl,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (j <- 0 until tl; i <- 0 until tw) {
        val v = ((tc * tw + i) * 2 + (tr * tl + j) * 3) % 200 + 20
        img.getRaster.setSample(i, j, 0, v)
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.9f)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    val tiles = for (tr <- 0 until h / tl; tc <- 0 until w / tw) yield encodeGray(tc, tr)
    val tif = tmp("jpeg-gray.tif")
    graft.raquet.TiffWriter.writeTiledRaw(tif, w, h, "uint8", 1, tw, tl,
      compression = 7, tiles = tiles, jpegTables = None,
      pixelSize = 1.0, originX = 0.0, originY = 64.0, nodata = None)
    // reference: decode each tile stream directly with ImageIO
    val direct = GeoTiff.readWindowDirect(tif, 0, 0, w, h)
    for ((tile, k) <- tiles.zipWithIndex) {
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tile))
      val tc = k % (w / tw); val tr = k / (w / tw)
      for (j <- 0 until tl; i <- 0 until tw)
        assert(direct.getSampleDouble(tc * tw + i, tr * tl + j, 0) ==
          ref.getRaster.getSampleDouble(i, j, 0), s"tile $k pixel ($i,$j)")
    }
  }

  test("COG overview passthrough: pyramid levels warp from overview IFDs and match the computed build") {
    // mercator-aligned 256x256 uint8 base + its exact 2x2-mean overview in
    // one 2-IFD classic TIFF; the passthrough pyramid must equal the
    // Pyramid.build result bit-for-bit (aligned NN warp of an exact-mean
    // overview == nodata-free 2x2-mean downsample)
    val z = 6; val bs = 16; val n = 256
    val size = GeoTiff.CE / (1L << z)
    val x0 = -GeoTiff.CE / 2 + 32 * size
    val y0 = GeoTiff.CE / 2 - 24 * size
    val px = size / bs
    def v(i: Int, j: Int): Int = (i * 3 + j * 5) % 251
    val base = Array.tabulate(n * n)(p0 => v(p0 % n, p0 / n).toDouble)
    val ov = Array.tabulate(n / 2 * (n / 2)) { p0 =>
      val i = p0 % (n / 2); val j = p0 / (n / 2)
      math.rint((base(2 * j * n + 2 * i) + base(2 * j * n + 2 * i + 1) +
        base((2 * j + 1) * n + 2 * i) + base((2 * j + 1) * n + 2 * i + 1)) / 4)
    }

    def assembleCog(path: String, withOverview: Boolean): Unit = {
      val LE = java.nio.ByteOrder.LITTLE_ENDIAN
      def ifdSize(nTags: Int) = 2 + nTags * 12 + 4
      val n0Tags = 14; val n1Tags = 12
      val ifd0At = 8L
      val pay0At = ifd0At + ifdSize(n0Tags)
      val scaleAt = pay0At; val tieAt = scaleAt + 24; val geoAt = tieAt + 48
      val ifd1At = geoAt + 32
      val data0At = ifd1At + (if (withOverview) ifdSize(n1Tags) else 0)
      val data1At = data0At + n * n
      val total = (data1At + (if (withOverview) ov.length else 0)).toInt
      val bb = java.nio.ByteBuffer.allocate(total).order(LE)
      bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifd0At.toInt)
      def entry(id: Int, ttype: Int, count: Int, value: Long): Unit =
        bb.putShort(id.toShort).putShort(ttype.toShort).putInt(count).putInt(value.toInt)
      // IFD0
      bb.position(ifd0At.toInt); bb.putShort(n0Tags.toShort)
      entry(256, 3, 1, n); entry(257, 3, 1, n); entry(258, 3, 1, 8)
      entry(259, 3, 1, 1); entry(262, 3, 1, 1)
      entry(273, 4, 1, data0At); entry(277, 3, 1, 1); entry(278, 3, 1, n)
      entry(279, 4, 1, n.toLong * n); entry(284, 3, 1, 1)
      entry(339, 3, 1, 1)
      entry(33550, 12, 3, scaleAt); entry(33922, 12, 6, tieAt)
      entry(34735, 3, 16, geoAt)
      bb.putInt(if (withOverview) ifd1At.toInt else 0) // next IFD
      bb.position(scaleAt.toInt); bb.putDouble(px).putDouble(px).putDouble(0)
      bb.position(tieAt.toInt)
      bb.putDouble(0).putDouble(0).putDouble(0).putDouble(x0).putDouble(y0).putDouble(0)
      bb.position(geoAt.toInt)
      Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, 3857)
        .foreach(k => bb.putShort(k.toShort))
      if (withOverview) {
        bb.position(ifd1At.toInt); bb.putShort(n1Tags.toShort)
        entry(254, 4, 1, 1) // reduced-resolution subfile
        entry(256, 3, 1, n / 2); entry(257, 3, 1, n / 2); entry(258, 3, 1, 8)
        entry(259, 3, 1, 1); entry(262, 3, 1, 1)
        entry(273, 4, 1, data1At); entry(277, 3, 1, 1); entry(278, 3, 1, n / 2)
        entry(279, 4, 1, ov.length.toLong); entry(284, 3, 1, 1)
        entry(339, 3, 1, 1)
        bb.putInt(0)
      }
      bb.position(data0At.toInt)
      base.foreach(d => bb.put(d.toInt.toByte))
      if (withOverview) ov.foreach(d => bb.put(d.toInt.toByte))
      java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
    }

    val cogTif = tmp("cog.tif"); val plainTif = tmp("plain.tif")
    assembleCog(cogTif, withOverview = true)
    assembleCog(plainTif, withOverview = false)
    val ovs = GeoTiff.readOverviews(cogTif)
    assert(ovs.size == 1 && ovs.head.width == 128 && ovs.head.dx == 2 * px)
    assert(GeoTiff.readOverviews(plainTif).isEmpty)

    val outCog = tmp("cog.parquet"); val outPlain = tmp("plain.parquet")
    val mCog = GeoTiff.convert(spark, cogTif, outCog, blockZoom = 4)
    val mPlain = GeoTiff.convert(spark, plainTif, outPlain, blockZoom = 4)
    assert(mCog.maxZoom == z && mCog.minZoom < z, s"need a pyramid: $mCog")
    assert(mCog.numBlocks == mPlain.numBlocks)
    val a = RaquetIO.read(spark, outCog).data
      .select("block", "band_1").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val b = RaquetIO.read(spark, outPlain).data
      .select("block", "band_1").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(a.keySet == b.keySet, "same tile set at every zoom")
    val diff = a.keys.filter(k => a(k) != b(k))
    assert(diff.isEmpty, s"tiles differing: ${diff.take(3).toList}")
  }

  test("convert tileStats=true writes the spec's per-tile statistics columns") {
    val rq = tmp("stats.parquet")
    val meta = GeoTiff.convert(spark, europeTwin, rq, tileStats = true)
    val ds = RaquetIO.read(spark, rq)
    val statCols = (1 to 4).flatMap(b => Seq(s"band_${b}_count", s"band_${b}_min",
      s"band_${b}_max", s"band_${b}_sum", s"band_${b}_mean", s"band_${b}_stddev"))
    statCols.foreach(c => assert(ds.data.columns.contains(c), c))
    // metadata row: all stats NULL (spec raquet.md:115)
    val metaRow = spark.read.parquet(rq).filter(col("block") === 0)
      .select(statCols.map(col): _*).head()
    assert((0 until metaRow.length).forall(metaRow.isNullAt), "metadata row stats NULL")
    // a data tile's columns equal stats recomputed from its own blob
    val r = ds.data.filter(col("band_1").isNotNull)
      .select("block", "band_1", "band_1_count", "band_1_min", "band_1_max",
        "band_1_sum", "band_1_mean", "band_1_stddev").head()
    val st = graft.raquet.BandKernel(meta, "band_1").stats(r.getAs[Array[Byte]](1))
    assert(r.getLong(2) == st(0).toLong && r.getDouble(3) == st(1) &&
      r.getDouble(4) == st(2) && r.getDouble(5) == st(3))
    // pyramid rows carry stats too
    import graft.functions.GraftFunctions.quadbin_zoom
    val pyr = ds.data.filter(quadbin_zoom(col("block")) < meta.maxZoom)
    assert(pyr.count() > 0 && pyr.filter(col("band_1_count") > 0).count() > 0)
  }

  test("convert → export round-trip preserves mercator-aligned pixels") {
    val rq = tmp("rt.parquet")
    val meta = GeoTiff.convert(spark, europeTwin, rq)
    val tif = tmp("rt.tif")
    GeoTiff.export(spark, rq, tif)
    val back = GeoTiff.read(tif)
    assert(back.width == 1024 && back.height == 1024 && back.bands == 4)
    // aligned grid: NN convert then mosaic = original pixels
    val orig = GeoTiff.read(europeTwin)
    val diffs = (0 until 1024 by 97).flatMap(j => (0 until 1024 by 89).map(i =>
      math.abs(orig.sample(0, i, j) - back.sample(0, i, j))))
    assert(diffs.forall(_ == 0.0), s"pixel drift: max=${diffs.max}")
    // the export is a COG: pyramid levels became overview IFDs, and the
    // overview pixels equal the dataset's own pyramid tiles: zooms 5 → 2
    // give min(5 − 2, 8) = 3 overviews, the first 512 px wide
    val ovs = GeoTiff.readOverviews(tif)
    assert(ovs.size == math.min(meta.maxZoom - meta.minZoom, 8), s"overviews: $ovs")
    if (ovs.nonEmpty) {
      val ov = ovs.head
      assert(ov.width == 512 && ov.dx == 2 * back.dx)
      // overview pixel (i,j) averages the base 2x2 at (2i, 2j) — compare a
      // probe grid against the nodata-aware mean of the full-res mosaic
      val oimg = GeoTiff.readWindowRaster(tif, 0, 0, 512, 512, ifd = 1)
      val nodata = back.nodata
      def valid(v: Double) = !(v.isNaN || nodata.contains(v))
      val bad = for {
        j <- (0 until 512 by 41); i <- (0 until 512 by 37)
        vs = Seq(back.sample(0, 2 * i, 2 * j), back.sample(0, 2 * i + 1, 2 * j),
          back.sample(0, 2 * i, 2 * j + 1), back.sample(0, 2 * i + 1, 2 * j + 1))
          .filter(valid)
        exp = if (vs.isEmpty) nodata.getOrElse(0.0) else math.rint(vs.sum / vs.size)
        got = oimg.getSampleDouble(i, j, 0)
        if got != exp
      } yield (i, j, got, exp)
      assert(bad.isEmpty, s"overview mismatches: ${bad.take(3)}")
    }
  }

  test("interleaved convert: gzip/none/webp bit-exact vs sequential, jpeg bounded") {
    import graft.functions.GraftFunctions._
    // mercator-aligned 64x64 uint8 RGB source → 4x4 tiles of 16px at zoom 6
    val z = 6; val bs = 16; val n = 64
    val size = GeoTiff.CE / (1L << z)
    val x0 = -GeoTiff.CE / 2 + 32 * size
    val y0 = GeoTiff.CE / 2 - 24 * size
    val px = size / bs
    // smooth (wrap-free) gradient: JPEG-representable, and exactness of the
    // lossless paths is pattern-independent anyway
    def v(b: Int, i: Int, j: Int): Int = i + j + b * 40
    val tif = tmp("rgb.tif")
    val strips = (0 until n / 16).iterator.map { s0 =>
      val arr = new Array[Byte](16 * n * 3)
      for (j <- 0 until 16; i <- 0 until n; b <- 0 until 3)
        arr((j * n + i) * 3 + b) = v(b, i, s0 * 16 + j).toByte
      arr
    }
    graft.raquet.TiffWriter.writeStrips(tif, n, n, "uint8", 3, px, x0, y0, None, 16, strips)

    def bandVals(out: String, meta: graft.raquet.RaquetMetadata): Map[(Long, String), Seq[Double]] = {
      val ds = RaquetIO.read(spark, out)
      (1 to 3).flatMap { b =>
        ds.data.filter(quadbin_zoom(col("block")) === z)
          .select(col("block"), rq_decode(ds.band(s"band_$b"), ds.meta, s"band_$b").as("px"))
          .collect().map(r => (r.getLong(0), s"band_$b") -> r.getSeq[Double](1).toSeq)
      }.toMap
    }

    val seqOut = tmp("il_seq.parquet")
    val seqMeta = GeoTiff.convert(spark, tif, seqOut, blockZoom = 4, tileStats = true)
    val base = bandVals(seqOut, seqMeta)
    assert(base.size == 48) // 16 tiles x 3 bands
    val total = RaquetIO.read(spark, seqOut).data.count()

    for (comp <- Seq("gzip", "none", "webp")) {
      val out = tmp(s"il_$comp.parquet")
      val meta = GeoTiff.convert(spark, tif, out, blockZoom = 4, tileStats = true,
        compression = comp, bandLayout = "interleaved")
      assert(meta.bandLayout == "interleaved")
      assert(meta.compression == (if (comp == "none") None else Some(comp)))
      val got = bandVals(out, meta)
      assert(got == base, s"$comp interleaved decode differs from sequential")
      // the interleaved pyramid (level-warped from source) has the same
      // tile population as the sequential Pyramid.build
      assert(RaquetIO.read(spark, out).data.count() == total, comp)
    }

    val jOut = tmp("il_jpeg.parquet")
    GeoTiff.convert(spark, tif, jOut, blockZoom = 4, tileStats = true,
      compression = "jpeg", bandLayout = "interleaved")
    val jGot = bandVals(jOut, null)
    // the % 251 test pattern has 250→0 wraparound edges, so per-pixel JPEG
    // ringing is large and legitimate — bound the MEAN error per tile/band
    val meanErr = base.keys.map { k =>
      val d = base(k).zip(jGot(k)).map { case (a, b) => math.abs(a - b) }
      d.sum / d.size
    }.max
    assert(meanErr < 20.0, s"jpeg mean error $meanErr")

    // lossy codecs reject sequential layout and non-uint8 sources loudly
    val e = intercept[IllegalArgumentException](
      GeoTiff.convert(spark, tif, tmp("bad.parquet"), blockZoom = 4,
        compression = "webp"))
    assert(e.getMessage.contains("interleaved"))

    // webp WITH a quality switches to lossy VP8 (the reference's Pillow
    // behavior): blobs carry a VP8 key frame, values stay close on the
    // smooth gradient, and the standard read path decodes them
    val wOut = tmp("il_webp_lossy.parquet")
    GeoTiff.convert(spark, tif, wOut, blockZoom = 4, tileStats = true,
      compression = "webp", bandLayout = "interleaved", quality = Some(88))
    val blob = spark.read.parquet(wOut).filter(col("block") =!= 0L)
      .select(col("pixels")).head().getAs[Array[Byte]](0)
    assert(new String(blob, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
      == "VP8 ", "quality=Some(..) should emit lossy VP8, not VP8L")
    val wGot = bandVals(wOut, null)
    val wMeanErr = base.keys.map { k =>
      val d = base(k).zip(wGot(k)).map { case (a, b) => math.abs(a - b) }
      d.sum / d.size
    }.max
    assert(wMeanErr < 8.0, s"lossy webp q88 mean error $wMeanErr")
  }
}
