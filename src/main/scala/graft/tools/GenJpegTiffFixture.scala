package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import graft.raquet.TiffWriter
import graft.quadbin.Quadbin

/** One-off generator for the committed JPEG-in-TIFF fixture + its golden
  * parquet (run via `sbt "runMain graft.tools.GenJpegTiffFixture"`).
  *
  * Layout mirrors what GDAL writes for `-co COMPRESS=JPEG -co TILED=YES`
  * ortho-imagery (TIFF TechNote 2): per-tile ABBREVIATED baseline JPEG
  * streams (DQT/DHT stripped) sharing one JPEGTables tag (347), photometric
  * 6 (YCbCr). The source pattern is smooth gradients, mercator-aligned to
  * the q60 grid (512×512, world corner, auto zoom 1).
  *
  * The golden parquet holds the per-pixel values an INDEPENDENT whole-image
  * ImageIO decode of the spliced streams produces — generated here, outside
  * the direct tiled reader under test, so the reader's tag/window/splice
  * plumbing is verified against it (the JPEG entropy decode itself is the
  * JDK's in both paths; JPEG is not bit-portable across decoders, so the
  * oracle pins THIS decoder's output, the q80/q83 golden pattern).
  */
object GenJpegTiffFixture {

  /** Split a full baseline JPEG stream into (tables segments, abbreviated
    * stream without them). Tables = DQT (FFDB) + DHT (FFC4) segments, which
    * in baseline streams all precede SOS. */
  def splitTables(full: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require((full(0) & 0xFF) == 0xFF && (full(1) & 0xFF) == 0xD8, "no SOI")
    val tables = new ByteArrayOutputStream()
    val rest = new ByteArrayOutputStream()
    rest.write(0xFF); rest.write(0xD8)
    var p = 2
    var inScan = false
    while (p < full.length && !inScan) {
      require((full(p) & 0xFF) == 0xFF, s"bad marker at $p")
      val m = full(p + 1) & 0xFF
      if (m == 0xDA) { // SOS: everything from here on is entropy data + EOI
        rest.write(full, p, full.length - p)
        inScan = true
      } else {
        val len = ((full(p + 2) & 0xFF) << 8) | (full(p + 3) & 0xFF)
        val seg = p until p + 2 + len
        if (m == 0xDB || m == 0xC4) tables.write(full, seg.start, seg.size)
        else rest.write(full, seg.start, seg.size)
        p += 2 + len
      }
    }
    require(inScan, "no SOS marker found")
    (tables.toByteArray, rest.toByteArray)
  }

  /** SOI + tables + EOI — the JPEGTables tag payload. */
  def tablesStream(tables: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8)
    out.write(tables, 0, tables.length)
    out.write(0xFF); out.write(0xD9)
    out.toByteArray
  }

  def rgbAt(gx: Int, gy: Int): (Int, Int, Int) =
    ((gx * 255) / 511, (gy * 255) / 511, ((gx + gy) * 255) / 1022)

  def main(args: Array[String]): Unit = {
    val res = "src/test/resources/tiff"
    new java.io.File(res).mkdirs()
    val w = 512; val h = 512; val tw = 128; val tl = 128
    val across = w / tw; val down = h / tl

    def encodeTile(tc: Int, tr: Int): Array[Byte] = {
      val img = new BufferedImage(tw, tl, BufferedImage.TYPE_3BYTE_BGR)
      for (j <- 0 until tl; i <- 0 until tw) {
        val (r, g, b) = rgbAt(tc * tw + i, tr * tl + j)
        img.setRGB(i, j, (r << 16) | (g << 8) | b)
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val bos = new ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(0.85f)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      bos.toByteArray
    }

    val full = for (tr <- 0 until down; tc <- 0 until across) yield encodeTile(tc, tr)
    val split = full.map(splitTables)
    // the default-table encode makes every tile's DQT/DHT identical; the
    // shared tag is only valid if so
    require(split.map(_._1.toSeq).distinct.size == 1,
      "tiles disagree on quantization/Huffman tables")
    val tables = tablesStream(split.head._1)
    val tif = s"$res/jpeg_tiled.tif"
    TiffWriter.writeTiledRaw(tif, w, h, "uint8", 3, tw, tl,
      compression = 7, tiles = split.map(_._2),
      jpegTables = Some(tables),
      pixelSize = 2.0 * Quadbin.OriginShift / w,
      originX = -Quadbin.OriginShift, originY = Quadbin.OriginShift,
      nodata = None, forceBig = true, photometric = 6)
    println(s"wrote $tif (${new java.io.File(tif).length()} bytes)")

    // golden: independent whole-stream decode (splice + ImageIO), assembled
    // into (gx, gy, band, v) rows
    val spark = graft.SessionDefaults.session("gen-jpeg-golden")
    try {
      val rows = new scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Int)]()
      for (tr <- 0 until down; tc <- 0 until across) {
        val spliced = graft.raquet.GeoTiff.jpegDecompress(
          split(tr * across + tc)._2, Some(tables), tw, tl, 3, s"tile $tc,$tr")
        for (j <- 0 until tl; i <- 0 until tw; b <- 0 until 3)
          rows += ((tc * tw + i, tr * tl + j, b + 1,
            spliced((j * tw + i) * 3 + b) & 0xFF))
      }
      import spark.implicits._
      rows.toSeq.toDF("gx", "gy", "band", "v")
        .repartition(1).sortWithinPartitions("gy", "gx", "band")
        .write.mode("overwrite").parquet(s"$res/jpeg_tiled_golden_dir")
      val part = new java.io.File(s"$res/jpeg_tiled_golden_dir").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$res/jpeg_tiled_golden.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$res/jpeg_tiled_golden_dir"))
      println(s"wrote $res/jpeg_tiled_golden.parquet")
    } finally spark.stop()
  }
}
