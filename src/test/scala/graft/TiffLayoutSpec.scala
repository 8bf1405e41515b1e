package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.raquet.GeoTiff

/** Direct-reader breadth for real-world TIFF layouts: PackBits compression
  * (32773) and band-separate planar configuration 2 — differential against
  * the in-memory pixel source, windowed at awkward offsets. The direct
  * reader is the only window decoder, for classic TIFF and BigTIFF. */
class TiffLayoutSpec extends AnyFunSuite {

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("tiffLayout").toString

  test("PackBits codec round-trips runs, literals, and boundary sizes") {
    val rnd = new scala.util.Random(42)
    val cases = Seq[Array[Byte]](
      Array.empty,
      Array.fill(1)(7.toByte),
      Array.fill(300)(9.toByte),                       // long run > 128
      Array.tabulate(257)(i => i.toByte),              // pure literals > 128
      Array.tabulate(4096)(i => if ((i / 7) % 2 == 0) 5.toByte else rnd.nextInt.toByte),
      Array.fill(128)(1.toByte) ++ Array.tabulate(130)(_.toByte) ++ Array.fill(3)(2.toByte))
    cases.foreach { c =>
      val enc = GeoTiff.packbitsCompress(c)
      assert(GeoTiff.packbitsDecompress(enc, c.length).toSeq == c.toSeq,
        s"round-trip failed for len ${c.length}")
    }
  }

  test("PackBits decoder fails cleanly on truncated and overrunning streams") {
    val enc = GeoTiff.packbitsCompress(Array.tabulate(512)(i => (i / 9).toByte))
    intercept[IllegalArgumentException](
      GeoTiff.packbitsDecompress(enc.dropRight(2), 512))
    intercept[IllegalArgumentException](
      GeoTiff.packbitsDecompress(enc, 511)) // declared size too small
    // a literal header claiming more bytes than remain
    intercept[IllegalArgumentException](
      GeoTiff.packbitsDecompress(Array[Byte](50, 1, 2), 51))
  }

  private def makeBands(w: Int, h: Int, nb: Int): Array[Array[Double]] =
    Array.tabulate(nb)(b => Array.tabulate(w * h)(p =>
      // mixes long flat runs (PackBits-friendly) with varying texture
      if ((p / w) % 3 == 0) 17.0 else ((p * (b + 3) * 31) % 251).toDouble))

  private def checkWindows(path: String, w: Int, h: Int,
      bands: Array[Array[Double]]): Unit = {
    // full frame + interior windows at non-aligned offsets spanning
    // tile boundaries (tiles are 64x64 below)
    val windows = Seq((0, 0, w, h), (50, 30, 100, 90), (63, 63, 66, 2),
      (w - 7, h - 5, 7, 5), (0, 64, 64, 64))
    windows.foreach { case (wx, wy, ww, wh) =>
      val r = GeoTiff.readWindowDirect(path, wx, wy, ww, wh)
      for (j <- 0 until wh; i <- 0 until ww; b <- bands.indices)
        assert(r.getSampleDouble(i, j, b) == bands(b)((wy + j) * w + wx + i),
          s"window ($wx,$wy,$ww,$wh) pixel ($i,$j) band $b in $path")
    }
  }

  test("planar-2 (band-separate) tiled BigTIFF reads identically to source") {
    val (w, h, nb) = (200, 150, 3)
    val bands = makeBands(w, h, nb)
    val p = s"${tmpDir()}/planar2.tif"
    graft.raquet.TiffWriter.writeTiled(p, w, h, "uint8", bands, 1.0, 0.0, h.toDouble,
      nodata = None, tileW = 64, tileL = 64, compression = 1,
      forceBig = true, planar = 2)
    checkWindows(p, w, h, bands)
  }

  test("planar-2 + PackBits tiled BigTIFF reads identically to source") {
    val (w, h, nb) = (200, 150, 3)
    val bands = makeBands(w, h, nb)
    val p = s"${tmpDir()}/planar2_pb.tif"
    graft.raquet.TiffWriter.writeTiled(p, w, h, "uint8", bands, 1.0, 0.0, h.toDouble,
      nodata = None, tileW = 64, tileL = 64, compression = 32773,
      forceBig = true, planar = 2)
    checkWindows(p, w, h, bands)
  }

  test("chunky PackBits tiled BigTIFF reads identically to source (16-bit)") {
    val (w, h, nb) = (200, 150, 2)
    val bands = Array.tabulate(nb)(b => Array.tabulate(w * h)(p =>
      if ((p / w) % 4 == 1) 4097.0 else ((p * (b + 7) * 131) % 60000).toDouble))
    val p = s"${tmpDir()}/chunky_pb16.tif"
    graft.raquet.TiffWriter.writeTiled(p, w, h, "uint16", bands, 1.0, 0.0, h.toDouble,
      nodata = None, tileW = 64, tileL = 64, compression = 32773,
      forceBig = true)
    checkWindows(p, w, h, bands)
  }

  test("planar-2 deflate differential: same pixels as the chunky layout") {
    val (w, h, nb) = (100, 100, 2)
    val bands = makeBands(w, h, nb)
    val dir = tmpDir()
    val chunky = s"$dir/chunky.tif"
    val planar = s"$dir/planar.tif"
    graft.raquet.TiffWriter.writeTiled(chunky, w, h, "float32", bands, 1.0, 0.0, h.toDouble,
      nodata = None, tileW = 64, tileL = 64, compression = 8, forceBig = true)
    graft.raquet.TiffWriter.writeTiled(planar, w, h, "float32", bands, 1.0, 0.0, h.toDouble,
      nodata = None, tileW = 64, tileL = 64, compression = 8, forceBig = true,
      planar = 2)
    val a = GeoTiff.readWindowDirect(chunky, 13, 11, 80, 80)
    val b = GeoTiff.readWindowDirect(planar, 13, 11, 80, 80)
    for (j <- 0 until 80; i <- 0 until 80; bd <- 0 until nb)
      assert(a.getSampleDouble(i, j, bd) == b.getSampleDouble(i, j, bd))
  }

  private def makeFloatBands(w: Int, h: Int, nb: Int): Array[Array[Double]] =
    Array.tabulate(nb)(b => Array.tabulate(w * h)(p =>
      // smooth terrain-like field with fractional values — the shape
      // predictor 3 exists for (neighbor deltas share high-order bytes)
      math.sin(p % w * 0.05 + b) * 100.0 + (p / w) * 0.25 +
        (if (p % 17 == 0) -999.25 else 0.0)))

  test("predictor-3 (float) deflate differential: same pixels as predictor 1") {
    val (w, h, nb) = (150, 120, 2)
    val bands = makeFloatBands(w, h, nb)
    val dir = tmpDir()
    for (dtype <- Seq("float32", "float64"); planar <- Seq(1, 2); big <- Seq(true, false)) {
      val plain = s"$dir/${dtype}_p1_${planar}_$big.tif"
      val pred = s"$dir/${dtype}_p3_${planar}_$big.tif"
      graft.raquet.TiffWriter.writeTiled(plain, w, h, dtype, bands, 1.0, 0.0,
        h.toDouble, nodata = None, tileW = 64, tileL = 64, compression = 8,
        forceBig = big, planar = planar)
      graft.raquet.TiffWriter.writeTiled(pred, w, h, dtype, bands, 1.0, 0.0,
        h.toDouble, nodata = None, tileW = 64, tileL = 64, compression = 8,
        forceBig = big, planar = planar, predictor = 3)
      val a = GeoTiff.readWindowRaster(plain, 13, 11, 120, 100)
      val b = GeoTiff.readWindowRaster(pred, 13, 11, 120, 100)
      for (j <- 0 until 100; i <- 0 until 120; bd <- 0 until nb) {
        val src = bands(bd)((11 + j) * w + 13 + i)
        assert(a.getSampleDouble(i, j, bd) == (if (dtype == "float32") src.toFloat.toDouble
          else src), s"$dtype planar $planar BigTIFF $big pixel ($i,$j) band $bd vs source")
        assert(a.getSampleDouble(i, j, bd) == b.getSampleDouble(i, j, bd),
          s"$dtype planar $planar BigTIFF $big pixel ($i,$j) band $bd")
      }
    }
  }

  test("predictor-3 actually shrinks the deflate stream on smooth data") {
    val (w, h) = (256, 256)
    val bands = makeFloatBands(w, h, 1)
    val dir = tmpDir()
    val plain = s"$dir/sm_p1.tif"; val pred = s"$dir/sm_p3.tif"
    graft.raquet.TiffWriter.writeTiled(plain, w, h, "float32", bands, 1.0, 0.0,
      h.toDouble, nodata = None, tileW = 128, tileL = 128, compression = 8)
    graft.raquet.TiffWriter.writeTiled(pred, w, h, "float32", bands, 1.0, 0.0,
      h.toDouble, nodata = None, tileW = 128, tileL = 128, compression = 8,
      predictor = 3)
    val s1 = new java.io.File(plain).length
    val s3 = new java.io.File(pred).length
    assert(s3 < s1, s"predictor 3 ($s3 B) should beat none ($s1 B)")
  }

  test("predictor-2 (integer) tiled writer round-trips through the reader") {
    val (w, h, nb) = (200, 150, 2)
    val bands = makeBands(w, h, nb)
    val dir = tmpDir()
    for (dtype <- Seq("uint8", "uint16", "int32")) {
      val p = s"$dir/p2_$dtype.tif"
      graft.raquet.TiffWriter.writeTiled(p, w, h, dtype, bands, 1.0, 0.0,
        h.toDouble, nodata = None, tileW = 64, tileL = 64, compression = 8,
        forceBig = true, predictor = 2)
      checkWindows(p, w, h, bands)
    }
  }

  test("predictor-3 with an integer dtype is rejected at write and read") {
    val dir = tmpDir()
    intercept[IllegalArgumentException] {
      graft.raquet.TiffWriter.writeTiled(s"$dir/bad.tif", 64, 64, "uint16",
        makeBands(64, 64, 1), 1.0, 0.0, 64.0, nodata = None, predictor = 3)
    }
  }
}
