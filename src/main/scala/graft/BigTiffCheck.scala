package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.raquet.{GeoTiff, PixelCodec, RaquetIO}

/** Scale check for the de-drivered S6 ingest: streams a >2 GB uncompressed
  * BIGTIFF (version 43 — exercises the direct strip decoder, since the JDK
  * has no BigTIFF reader) to disk (strip-at-a-time, bounded memory), then
  * converts it with
  * the WHOLE JVM heap capped (local mode: driver and executors share it):
  *
  *   SPARK_DRIVER_MEM=2g sbt "runMain graft.BigTiffCheck"
  *
  * The legacy ingest materialized width·height·8 bytes of doubles on the
  * driver (~17 GB here) and broadcast them — guaranteed OOM at 2 GB. The
  * windowed ingest holds only per-run decode windows (≤ 64 MB each), so
  * this completes. A pixel probe verifies the warped output against the
  * synthetic closed form. Not part of the driver contract.
  */
object BigTiffCheck {

  /** v(i, j) of the synthetic source — closed form checked after warp. */
  private def v(i: Int, j: Int): Int = ((i * 3 + j * 7) % 4001)

  /** Streaming single-band uint16 striped GeoTIFF writer: header + IFD up
    * front (strip layout precomputed), then one reused 64-row buffer. */
  def writeBigTiff(path: String, w: Int, h: Int): Unit = {
    val rowsPerStrip = 64
    require(h % rowsPerStrip == 0, "keep strips uniform")
    val nStrips = h / rowsPerStrip
    val stripBytes = w * rowsPerStrip * 2

    // geographic grid: lon [-60, 60], lat [50, -30] (north-up, dy < 0)
    val x0 = -60.0; val dx = 120.0 / w
    val y0 = 50.0; val dy = -80.0 / h

    final case class T(id: Int, ttype: Int, count: Int, value: Long)
    // BigTIFF (version 43): 16-byte header, 20-byte entries, 8-byte counts
    val header = 16
    val nTags = 14
    val ifdSize = 8 + nTags * 20 + 8
    var cursor = (header + ifdSize).toLong
    def alloc(bytes: Int): Long = { val at = cursor; cursor += bytes; at }
    val offsetsAt = alloc(nStrips * 4)
    val countsAt = alloc(nStrips * 4)
    val scaleAt = alloc(3 * 8)
    val tieAt = alloc(6 * 8)
    val geoAt = alloc(16 * 2)
    val dataStart = cursor

    val tags = Seq(
      T(256, 3, 1, w), T(257, 3, 1, h), T(258, 3, 1, 16),
      T(259, 3, 1, 1), T(262, 3, 1, 1),
      T(273, 4, nStrips, offsetsAt), T(277, 3, 1, 1),
      T(278, 3, 1, rowsPerStrip), T(279, 4, nStrips, countsAt),
      T(284, 3, 1, 1), T(339, 3, 1, 1),
      T(33550, 12, 3, scaleAt), T(33922, 12, 6, tieAt),
      T(34735, 3, 16, geoAt)).sortBy(_.id)

    val head = ByteBuffer.allocate(dataStart.toInt).order(ByteOrder.LITTLE_ENDIAN)
    head.put('I'.toByte).put('I'.toByte).putShort(43)
    head.putShort(8).putShort(0).putLong(header.toLong)
    head.putLong(nTags.toLong)
    tags.foreach { t =>
      head.putShort(t.id.toShort).putShort(t.ttype.toShort).putLong(t.count.toLong)
      head.putLong(t.value)
    }
    head.putLong(0L)
    (0 until nStrips).foreach(k => head.putInt((dataStart + k.toLong * stripBytes).toInt))
    (0 until nStrips).foreach(_ => head.putInt(stripBytes))
    Seq(dx, -dy, 0.0).foreach(head.putDouble)
    Seq(0.0, 0.0, 0.0, x0, y0, 0.0).foreach(head.putDouble)
    // GTModelType=2 (geographic), RasterType=1
    Seq(1, 1, 0, 2, 1024, 0, 1, 2, 1025, 0, 1, 1).foreach(v0 => head.putShort(v0.toShort))
    Seq(0, 0, 0, 0).foreach(v0 => head.putShort(v0.toShort)) // pad to 16 shorts
    head.rewind()

    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(head)
      val strip = ByteBuffer.allocate(stripBytes).order(ByteOrder.LITTLE_ENDIAN)
      var s0 = 0
      while (s0 < nStrips) {
        strip.clear()
        var j = s0 * rowsPerStrip
        val jEnd = j + rowsPerStrip
        while (j < jEnd) {
          var i = 0
          while (i < w) { strip.putShort(v(i, j).toShort); i += 1 }
          j += 1
        }
        strip.flip(); ch.write(strip)
        s0 += 1
      }
    } finally ch.close()
  }

  def main(args: Array[String]): Unit = {
    val w = 34048; val h = 32000 // 34048·32000·2 B = 2.03 GB of samples
    val dir = Files.createTempDirectory("bigtiff")
    val tif = s"$dir/big.tif"
    println(s"streaming ${w}x$h uint16 TIFF to $tif ...")
    writeBigTiff(tif, w, h)
    println(f"wrote ${Files.size(Paths.get(tif)) / 1e9}%.2f GB; heap max " +
      f"${Runtime.getRuntime.maxMemory / 1e9}%.2f GB")

    val spark = SessionDefaults.session("graft-bigtiff-check")
    try {
      val out = s"$dir/big.parquet"
      val t0 = System.nanoTime()
      val meta = GeoTiff.convert(spark, tif, out)
      println(f"convert: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        s"numBlocks=${meta.numBlocks}, zoom=${meta.maxZoom}")
      require(meta.numBlocks > 10000, s"unexpected tiling: ${meta.numBlocks}")
      val st = meta.bands.head.stats.get
      require(st._1 >= 0.0 && st._2 <= 4000.0, s"stats out of range: $st")

      // pixel probe: decoded warped pixel == closed form at the NN source px
      val ds = RaquetIO.read(spark, out)
      val info = GeoTiff.readInfo(tif)
      val z = meta.maxZoom; val bs = meta.blockWidth
      val probe = ds.data
        .filter(org.apache.spark.sql.functions.col("block") =!= 0L)
        .filter(graft.functions.GraftFunctions.quadbin_zoom(
          org.apache.spark.sql.functions.col("block")) === z)
        .select("block", "band_1").limit(1).collect()(0)
      val cell = probe.getLong(0)
      val px = PixelCodec.decode(probe.getAs[Array[Byte]](1),
        meta.bands.head.bandType)
      val tx = graft.quadbin.Quadbin.tileX(cell)
      val ty = graft.quadbin.Quadbin.tileY(cell)
      val size = GeoTiff.CE / (1L << z)
      var checked = 0
      for ((i, j) <- Seq((0, 0), (bs / 2, bs / 3), (bs - 1, bs - 1))) {
        val mx = -GeoTiff.CE / 2 + tx * size + (i + 0.5) * size / bs
        val my = GeoTiff.CE / 2 - ty * size - (j + 0.5) * size / bs
        val sx = GeoTiff.invLon(mx); val sy = GeoTiff.invLat(my)
        val si = math.floor((sx - info.x0) / info.dx).toInt
        val sj = math.floor((sy - info.y0) / info.dy).toInt
        if (si >= 0 && si < w && sj >= 0 && sj < h) {
          val want = v(si, sj).toDouble
          val got = px(j * bs + i)
          require(got == want, s"pixel ($i,$j) of $cell: got $got want $want")
          checked += 1
        }
      }
      require(checked > 0, "no probe pixel landed inside the source")
      println(s"pixel probe OK ($checked checked). PASS")
    } finally {
      spark.stop()
      RaquetIO.deleteTree(dir.toString)
    }
  }
}
