package graft.raquet

import java.nio.{ByteBuffer, ByteOrder}

/** JP2 (JPEG 2000 Part-1 container) ingest — the Sentinel-2 L1C/L2A band
  * file format (each band ships as one grayscale `.jp2`; the reference
  * reaches them through GDAL, `raquet/raster2raquet.py:950-963`).
  *
  * Box structure per ISO/IEC 15444-1 Annex I: the 12-byte signature box,
  * `ftyp` (brand jp2), the `jp2h` header superbox (`ihdr` cross-checked
  * against the codestream), and the `jp2c` contiguous codestream decoded by
  * [[Jpeg2000]]. Georeferencing comes from the GeoJP2 convention — a
  * `uuid` box carrying a degenerate GeoTIFF whose ModelPixelScale /
  * ModelTiepoint / GeoKeyDirectory / GeoDoubleParams apply to the JP2
  * image grid; the key directory passes through to the transcode VERBATIM,
  * so every projection the GeoTIFF path resolves (UTM, LCC, sinusoidal, …)
  * works unchanged. GMLJP2-only files fail loudly (no GeoJP2 box).
  */
object Jp2 {

  /** GeoJP2 UUID (GeoTIFF-in-JP2, the public "MSIG" registration). */
  private val GeoTiffUuid: Array[Byte] = Array(
    0xB1, 0x4B, 0xF8, 0xBD, 0x08, 0x3D, 0x4B, 0x43,
    0xA5, 0xAE, 0x8C, 0xD7, 0xD5, 0xA6, 0xCE, 0x03).map(_.toByte)

  private def u32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def u64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (b(i + k) & 0xFFL); k += 1 }
    v
  }
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  private final case class Box(tbox: String, off: Long, len: Long)

  /** Walk top-level (or superbox-nested) boxes in [from, to). */
  private def boxes(b: Array[Byte], from: Long, to: Long,
      where: String): Seq[Box] = {
    val out = Seq.newBuilder[Box]
    var p = from
    while (p < to) {
      require(p + 8 <= to, s"$where: truncated JP2 box header at $p")
      val lbox = u32(b, p.toInt)
      val t = fourcc(b, p.toInt + 4)
      val (payload, end) =
        if (lbox == 0) (p + 8, to) // box extends to end
        else if (lbox == 1) {
          require(p + 16 <= to, s"$where: truncated XLBox at $p")
          val xl = u64(b, p.toInt + 8)
          require(xl >= 16 && p + xl <= to, s"$where: XLBox $xl overruns file")
          (p + 16, p + xl)
        } else {
          require(lbox >= 8 && p + lbox <= to,
            s"$where: box '$t' length $lbox overruns file")
          (p + 8, p + lbox)
        }
      out += Box(t, payload, end - payload)
      p = end
    }
    out.result()
  }

  final case class Jp2Image(w: Int, h: Int, nc: Int,
      codestream: Array[Byte],
      pixelSize: Double, originX: Double, originY: Double,
      geoKeys: Seq[Int], geoDoubles: Seq[Double])

  /** Parse the container and pull out the codestream + GeoJP2 transform. */
  def read(path: String): Jp2Image = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(bytes.length >= 12, s"$path: too short for a JP2 file")
    val top = boxes(bytes, 0, bytes.length, path)
    require(top.nonEmpty && top.head.tbox == "jP  " && top.head.len == 4 &&
      u32(bytes, top.head.off.toInt) == 0x0D0A870AL,
      s"$path: not a JP2 file (bad signature box)")
    val ftyp = top.find(_.tbox == "ftyp").getOrElse(
      throw new IllegalArgumentException(s"$path: no ftyp box"))
    val brands = (0 until (ftyp.len.toInt - 8) / 4 + 1).map { k =>
      val at = ftyp.off.toInt + (if (k == 0) 0 else 8 + 4 * (k - 1))
      fourcc(bytes, at)
    }
    require(brands.contains("jp2 "),
      s"$path: brand '${brands.head}' is not jp2 (compat: ${brands.mkString(",")})")

    val jp2h = top.find(_.tbox == "jp2h").getOrElse(
      throw new IllegalArgumentException(s"$path: no jp2h header box"))
    val hdr = boxes(bytes, jp2h.off, jp2h.off + jp2h.len, path)
    val ihdr = hdr.find(_.tbox == "ihdr").getOrElse(
      throw new IllegalArgumentException(s"$path: no ihdr box"))
    require(ihdr.len >= 14, s"$path: ihdr too short")
    val ih = u32(bytes, ihdr.off.toInt)
    val iw = u32(bytes, ihdr.off.toInt + 4)
    val nc = ((bytes(ihdr.off.toInt + 8) & 0xFF) << 8) |
      (bytes(ihdr.off.toInt + 9) & 0xFF)
    require(nc >= 1 && nc <= 3,
      s"$path: $nc-component JP2 unsupported (grayscale band files and " +
        "3-component TCI previews only)")

    val jp2c = top.find(_.tbox == "jp2c").getOrElse(
      throw new IllegalArgumentException(s"$path: no jp2c codestream box"))
    val cs = java.util.Arrays.copyOfRange(bytes, jp2c.off.toInt,
      (jp2c.off + jp2c.len).toInt)

    val geo = top.filter(_.tbox == "uuid").find { bx =>
      bx.len >= 16 && (0 until 16).forall(k =>
        bytes(bx.off.toInt + k) == GeoTiffUuid(k))
    }.getOrElse(throw new IllegalArgumentException(
      s"$path: no GeoJP2 uuid box (GMLJP2-only georeferencing unsupported)"))
    val (scale, tie, keys, dbls) = parseGeoTiff(bytes,
      geo.off.toInt + 16, (geo.len - 16).toInt, path)
    require(math.abs(scale(0) - scale(1)) < 1e-9 * math.abs(scale(0)),
      s"$path: non-square GeoJP2 pixels (${scale(0)} x ${scale(1)})")
    // tiepoint: raster (i,j) -> model (x,y); origin = top-left of pixel 0
    val originX = tie(3) - tie(0) * scale(0)
    val originY = tie(4) + tie(1) * scale(1)

    require(iw >= 1 && ih >= 1 && iw * ih <= (1L << 26),
      s"$path: implausible ihdr dims ${iw}x$ih")
    Jp2Image(iw.toInt, ih.toInt, nc, cs, scale(0), originX, originY, keys,
      dbls)
  }

  /** Minimal classic-TIFF tag parse (both byte orders) for the four GeoJP2
    * tags: ModelPixelScale, ModelTiepoint, GeoKeyDirectory, GeoDoubleParams.
    * The degenerate GeoTIFF's own image dims are ignored per the GeoJP2
    * convention — the transform applies to the JP2 grid. */
  private def parseGeoTiff(b: Array[Byte], off: Int, len: Int,
      where: String): (Array[Double], Array[Double], Seq[Int], Seq[Double]) = {
    require(len >= 8, s"$where: GeoJP2 payload too short")
    val order = (b(off) & 0xFF, b(off + 1) & 0xFF) match {
      case (0x49, 0x49) => ByteOrder.LITTLE_ENDIAN
      case (0x4D, 0x4D) => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException(
        s"$where: GeoJP2 payload is not a TIFF")
    }
    val bb = ByteBuffer.wrap(b, off, len).slice().order(order)
    require(bb.getShort(2) == 42, s"$where: GeoJP2 TIFF magic missing")
    val ifd = bb.getInt(4)
    require(ifd >= 8 && ifd + 2 <= len, s"$where: GeoJP2 IFD out of range")
    val n = bb.getShort(ifd) & 0xFFFF
    require(ifd + 2 + 12 * n <= len, s"$where: GeoJP2 IFD truncated")
    var scale: Array[Double] = null
    var tie: Array[Double] = null
    var keys: Seq[Int] = Seq.empty
    var dbls: Seq[Double] = Seq.empty
    for (e <- 0 until n) {
      val at = ifd + 2 + 12 * e
      val id = bb.getShort(at) & 0xFFFF
      val tt = bb.getShort(at + 2) & 0xFFFF
      val cnt = bb.getInt(at + 4)
      require(cnt >= 0 && cnt <= 65536, s"$where: GeoJP2 tag $id count $cnt")
      def valOff: Int = {
        val sz = (if (tt == 3) 2 else if (tt == 12) 8 else 4) * cnt
        if (sz <= 4) at + 8
        else {
          val o = bb.getInt(at + 8)
          require(o >= 0 && o + sz <= len, s"$where: GeoJP2 tag $id offset")
          o
        }
      }
      id match {
        case 33550 if tt == 12 && cnt >= 2 =>
          val o = valOff
          scale = Array.tabulate(cnt)(k => bb.getDouble(o + 8 * k))
        case 33922 if tt == 12 && cnt >= 6 =>
          val o = valOff
          tie = Array.tabulate(cnt)(k => bb.getDouble(o + 8 * k))
        case 34735 if tt == 3 =>
          val o = valOff
          keys = (0 until cnt).map(k => bb.getShort(o + 2 * k) & 0xFFFF)
        case 34736 if tt == 12 =>
          val o = valOff
          dbls = (0 until cnt).map(k => bb.getDouble(o + 8 * k))
        case _ => ()
      }
    }
    require(scale != null && tie != null,
      s"$where: GeoJP2 TIFF lacks ModelPixelScale/ModelTiepoint")
    require(keys.nonEmpty, s"$where: GeoJP2 TIFF lacks a GeoKeyDirectory")
    (scale, tie, keys, dbls)
  }

  /** Transcode into a strip GeoTIFF carrying the GeoJP2 key directory
    * verbatim (all components, chunky-interleaved); O(image) memory in
    * WHICHEVER process runs it — the archive path runs one per executor
    * task via [[transcodeFiles]], never funneling decodes through the
    * driver. */
  def toTiff(jp2Path: String, tifPath: String, rowsPerStrip: Int = 64,
      nodata: Option[Double] = None): Jp2Image = {
    val img = read(jp2Path)
    val dec = Jpeg2000.decode(img.codestream, jp2Path)
    require(!dec.signed, s"$jp2Path: signed JP2 samples unsupported")
    require(dec.w == img.w && dec.h == img.h,
      s"$jp2Path: ihdr ${img.w}x${img.h} disagrees with codestream " +
        s"${dec.w}x${dec.h}")
    require(dec.ncomp == img.nc,
      s"$jp2Path: ihdr declares ${img.nc} components, codestream has " +
        s"${dec.ncomp}")
    val nb = dec.ncomp
    val dtype =
      if (dec.depth <= 8) "uint8" else if (dec.depth <= 16) "uint16" else "uint32"
    val bpp = PixelCodec.bytesPerPixel(dtype)
    val strips = (0 until img.h by rowsPerStrip).iterator.map { y0 =>
      val rows = math.min(rowsPerStrip, img.h - y0)
      val out = ByteBuffer.allocate(rows * img.w * nb * bpp)
        .order(ByteOrder.LITTLE_ENDIAN)
      var k = y0 * img.w
      val end = (y0 + rows) * img.w
      while (k < end) {
        var c = 0
        while (c < nb) {
          dtype match {
            case "uint8" => out.put(dec.comps(c)(k).toByte)
            case "uint16" => out.putShort(dec.comps(c)(k).toShort)
            case _ => out.putInt(dec.comps(c)(k))
          }
          c += 1
        }
        k += 1
      }
      out.array()
    }
    TiffWriter.writeStrips(tifPath, img.w, img.h, dtype, nb,
      pixelSize = img.pixelSize, originX = img.originX, originY = img.originY,
      nodata = nodata, rowsPerStrip = rowsPerStrip, strips = strips,
      geoKeysOverride = Some((img.geoKeys, img.geoDoubles)))
    img
  }

  /** JP2 → raquet: transcode + the distributed TIFF convert. One file —
    * archives go through [[convertGranule]], which keeps every decode on
    * an executor. */
  def convert(spark: org.apache.spark.sql.SparkSession, jp2Path: String,
      outFile: String, blockZoom: Int = 8, zoomStrategy: String = "auto",
      tileStats: Boolean = false, resampling: String = "near",
      overviews: String = "auto", nodata: Option[Double] = None): RaquetMetadata = {
    val tmp = java.nio.file.Files.createTempFile("jp2", ".tif")
    try {
      toTiff(jp2Path, tmp.toString, nodata = nodata)
      GeoTiff.convert(spark, tmp.toString, outFile, blockZoom = blockZoom,
        zoomStrategy = zoomStrategy, tileStats = tileStats,
        resampling = resampling, overviews = overviews)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Distributed per-FILE JP2→TIFF transcode (the reference's M7 worker
    * pattern, `raquet/raster2raquet.py:1194-1294`): each executor task
    * decodes one codestream — the CPU-heavy step for a Sentinel-2 archive
    * of thousands of granule bands — and writes `<workDir>/<stem>.tif`.
    * `workDir` must be storage every executor can write and later tasks
    * can read (local disk on local[n], shared storage on a cluster).
    * Returns the TIFF paths in input order. */
  def transcodeFiles(spark: org.apache.spark.sql.SparkSession,
      jp2Paths: Seq[String], workDir: String,
      nodata: Option[Double] = None): Seq[String] = {
    require(jp2Paths.nonEmpty, "no JP2 inputs")
    new java.io.File(workDir).mkdirs()
    val pairs = jp2Paths.map { p =>
      val stem = new java.io.File(p).getName.replaceAll("\\.[^.]+$", "")
      (p, s"$workDir/$stem.tif")
    }
    require(pairs.map(_._2).distinct.size == pairs.size,
      s"duplicate JP2 stems collide in $workDir")
    spark.sparkContext
      .parallelize(pairs, math.min(pairs.size, 64))
      .foreach { case (src, dst) => toTiff(src, dst, nodata = nodata) }
    pairs.map(_._2)
  }

  /** Sentinel-2 granule workflow: N single-band JP2s (one per spectral
    * band, same grid) → ONE multi-band raquet dataset. Stage 1 transcodes
    * every file in parallel on executors ([[transcodeFiles]]); stage 2
    * runs the distributed convert per band; stage 3 stacks the bands with
    * a J2 block equi-join (shuffle on the Morton key only) and rewrites
    * the sorted sink with merged per-band metadata. */
  def convertGranule(spark: org.apache.spark.sql.SparkSession,
      jp2Paths: Seq[String], outFile: String, blockZoom: Int = 8,
      zoomStrategy: String = "auto", tileStats: Boolean = false,
      resampling: String = "near", overviews: String = "auto",
      nodata: Option[Double] = None): RaquetMetadata = {
    require(jp2Paths.nonEmpty, "no JP2 inputs")
    val work = java.nio.file.Files.createTempDirectory("jp2granule").toString
    try {
      val tifs = transcodeFiles(spark, jp2Paths, s"$work/tif", nodata)
      val parts = tifs.zipWithIndex.map { case (tif, i) =>
        val dir = s"$work/band_${i + 1}.parquet"
        val m = GeoTiff.convert(spark, tif, dir, blockZoom = blockZoom,
          zoomStrategy = zoomStrategy, tileStats = tileStats,
          resampling = resampling, overviews = overviews)
        require(m.bands.size == 1,
          s"granule band file ${jp2Paths(i)} has ${m.bands.size} bands")
        (dir, m)
      }
      BandStack.stack(spark, parts, outFile)
    } finally RaquetIO.deleteTree(work)
  }

  // ---------------------------------------------------------------- write
  /** Fixture/export encoder: assemble a minimal conformant JP2 around a
    * [[Jpeg2000]] codestream with a GeoJP2 uuid box (degenerate 1-pixel
    * GeoTIFF referencing the given key directory). */
  def write(path: String, xs: Array[Int], w: Int, h: Int, depth: Int,
      pixelSize: Double, originX: Double, originY: Double,
      geoKeys: Seq[Int], geoDoubles: Seq[Double] = Seq.empty): Unit =
    writeMulti(path, Array(xs), w, h, depth, pixelSize, originX, originY,
      geoKeys, geoDoubles, rct = false)

  /** Multi-component fixture writer (the TCI preview shape: 3 components,
    * optional reversible color transform). */
  def writeMulti(path: String, planes: Array[Array[Int]], w: Int, h: Int,
      depth: Int, pixelSize: Double, originX: Double, originY: Double,
      geoKeys: Seq[Int], geoDoubles: Seq[Double] = Seq.empty,
      rct: Boolean = false, lossy97: Boolean = false,
      coarseBits: Int = 0): Unit = {
    // lossy97 emits an irreversible 9/7 codestream (ICT when 3-component
    // and rct is set) — the aerial-imagery / NITF-adjacent archive shape
    val cs =
      if (lossy97) Jpeg2000.encode97(planes, w, h, depth,
        coarseBits = coarseBits, ict = rct)
      else Jpeg2000.encodeMulti(planes, w, h, depth, rct = rct)
    val out = new java.io.ByteArrayOutputStream()
    def u32b(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xFF).toByte, ((v >>> 16) & 0xFF).toByte,
      ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(t: String, payload: Array[Byte]): Unit = {
      out.write(u32b(8L + payload.length))
      out.write(t.getBytes("US-ASCII"))
      out.write(payload)
    }
    box("jP  ", u32b(0x0D0A870AL))
    box("ftyp", "jp2 ".getBytes ++ u32b(0) ++ "jp2 ".getBytes)
    val nc = planes.length
    val ihdr = u32b(h) ++ u32b(w) ++ Array[Byte](0, nc.toByte,
      (depth - 1).toByte /*unsigned*/, 7 /*compression: jpeg2000*/, 0, 0)
    val ihdrBox = u32b(8L + ihdr.length) ++ "ihdr".getBytes ++ ihdr
    // colr: method 1 (enumerated), greyscale (17) or sRGB (16)
    val colr = Array[Byte](1, 0, 0) ++ u32b(if (nc == 3) 16 else 17)
    val colrBox = u32b(8L + colr.length) ++ "colr".getBytes ++ colr
    box("jp2h", ihdrBox ++ colrBox)
    // degenerate 1x1 GeoTIFF with the caller's keys
    val tmp = java.nio.file.Files.createTempFile("geojp2", ".tif")
    val degenerate = try {
      TiffWriter.writeStrips(tmp.toString, 1, 1, "uint8", 1,
        pixelSize = pixelSize, originX = originX, originY = originY,
        nodata = None, rowsPerStrip = 1,
        strips = Iterator(Array[Byte](0)),
        geoKeysOverride = Some((geoKeys, geoDoubles)))
      java.nio.file.Files.readAllBytes(tmp)
    } finally java.nio.file.Files.deleteIfExists(tmp)
    box("uuid", GeoTiffUuid ++ degenerate)
    box("jp2c", cs)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.toByteArray)
  }
}
