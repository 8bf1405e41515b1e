package graft.raquet

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.quadbin.Quadbin

/** Deterministic synthetic raster generator — the test/bench substitute for
  * the reference's GDAL ingest (S6), whose real fixtures ship as git-LFS
  * pointers and are unavailable offline.
  *
  * Pixel values are closed-form in GLOBAL pixel coordinates gx = x·bs + i,
  * gy = y·bs + j, chosen so a SQL engine (the DuckDB oracle) can recompute
  * every pixel, every tile stat, and every pyramid level independently:
  *
  *  - band_1 (uint8, nodata 255):  255 where (gx+gy) % 31 == 0,
  *                                 else (7·gx + 13·gy) % 255
  *  - band_2 (float32, scale 0.5, offset 16): DN = gx/2 + gy/4
  *
  * All band_2 values (and their squares and sums) are dyadic rationals well
  * inside double's 2^53 exact range, so sums/means are EXACT in IEEE double
  * regardless of accumulation order — float arithmetic cannot cause an
  * engine-vs-oracle hash mismatch.
  *
  * Generation is distributed (one task per tile batch); the pyramid levels
  * come from the real [[Pyramid]] operator so the fixture also exercises M5.
  */
object FixtureGen {

  val Band1Nodata = 255.0

  def v1(gx: Long, gy: Long): Double =
    if ((gx + gy) % 31 == 0) Band1Nodata else ((7 * gx + 13 * gy) % 255).toDouble

  def v2(gx: Long, gy: Long): Double = gx * 0.5 + gy * 0.25

  def schema: StructType = {
    def statFields(b: String) = Seq(
      StructField(s"${b}_count", LongType), StructField(s"${b}_min", DoubleType),
      StructField(s"${b}_max", DoubleType), StructField(s"${b}_sum", DoubleType),
      StructField(s"${b}_mean", DoubleType), StructField(s"${b}_stddev", DoubleType))
    StructType(
      Seq(StructField("block", LongType, nullable = false),
        StructField("metadata", StringType),
        StructField("band_1", BinaryType), StructField("band_2", BinaryType)) ++
        statFields("band_1") ++ statFields("band_2"))
  }

  def metadata(z: Int, x0: Long, y0: Long, nx: Int, ny: Int, bs: Int,
      minZoom: Int, numBlocks: Long): RaquetMetadata =
    RaquetMetadata(
      version = "0.5.0",
      width = nx.toLong * bs, height = ny.toLong * bs,
      crs = "EPSG:3857",
      bounds = Array(Quadbin.tileWest(x0, z), Quadbin.tileSouth(y0 + ny - 1, z),
        Quadbin.tileEast(x0 + nx - 1, z), Quadbin.tileNorth(y0, z)),
      compression = Some("gzip"),
      blockWidth = bs, blockHeight = bs,
      minZoom = minZoom, maxZoom = z,
      pixelZoom = z + (math.log(bs.toDouble) / math.log(2.0)).round.toInt,
      numBlocks = numBlocks,
      bandLayout = "sequential",
      bands = Seq(
        BandMeta("band_1", "uint8", Some(Band1Nodata), None, None, Some("gray"), None),
        BandMeta("band_2", "float32", None, Some(0.5), Some(16.0), None, None)),
      time = None)

  /** Native-zoom tiles as a distributed DataFrame (metadata column null). */
  def nativeTiles(spark: SparkSession, z: Int, x0: Long, y0: Long,
      nx: Int, ny: Int, bs: Int): DataFrame = {
    val sc = spark.sparkContext
    val tiles = for (ty <- 0 until ny; tx <- 0 until nx) yield (x0 + tx, y0 + ty)
    val slices = math.min(tiles.size, sc.defaultParallelism * 2)
    val rows = sc.parallelize(tiles, math.max(1, slices)).map { case (x, y) =>
      val n = bs * bs
      val a1 = new Array[Double](n)
      val a2 = new Array[Double](n)
      var j = 0
      while (j < bs) {
        val gy = y * bs + j
        var i = 0
        while (i < bs) {
          val gx = x * bs + i
          a1(j * bs + i) = v1(gx, gy)
          a2(j * bs + i) = v2(gx, gy)
          i += 1
        }
        j += 1
      }
      val s1 = PixelCodec.maskedStats(a1, Band1Nodata, null)
      val s2 = PixelCodec.maskedStats(a2, Double.NaN, null)
      def stat(s: Array[Double]): Seq[Any] =
        if (s == null) Seq[Any](0L, null, null, null, null, null)
        else Seq[Any](java.lang.Long.valueOf(s(0).toLong), s(1), s(2), s(3),
          PixelCodec.statsMean(s), PixelCodec.statsStddev(s))
      Row.fromSeq(
        Seq(Quadbin.tileToCell(x, y, z), null,
          PixelCodec.encode(a1, "uint8", gzip = true),
          PixelCodec.encode(a2, "float32", gzip = true)) ++ stat(s1) ++ stat(s2))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Full dataset (native + pyramid to minZoom) and its metadata.
    * `num_blocks` counts native-zoom tiles only (reference
    * `raster2raquet.py:2157-2161`). */
  def dataset(spark: SparkSession, z: Int, x0: Long, y0: Long,
      nx: Int, ny: Int, bs: Int, minZoom: Int): (DataFrame, RaquetMetadata) = {
    val meta = metadata(z, x0, y0, nx, ny, bs, minZoom, numBlocks = nx.toLong * ny)
    val all = Pyramid.build(nativeTiles(spark, z, x0, y0, nx, ny, bs), meta, minZoom)
    (all, meta)
  }

  /** The committed unit/oracle fixture: zoom 6, tiles x 32-39 / y 24-31,
    * 16×16 blocks, pyramid to zoom 3 → 64+16+4+1 = 85 data rows. */
  def writeGradient16(spark: SparkSession, file: String): Unit = {
    val (df, meta) = dataset(spark, z = 6, x0 = 32, y0 = 24, nx = 8, ny = 8,
      bs = 16, minZoom = 3)
    RaquetIO.writeSingleFile(df, meta, file)
  }

  // --- large-scale bench field (BASELINE.md 15 GB slope-raster class) ---

  /** Slope-like single-band field for the large bench: a smooth base
    * gradient (0..64°) plus 8×8-block quantized pseudo-noise, tuned so a
    * gzipped float32 256² tile lands at ~30 KB — the same bytes-per-tile
    * class as the reference's 14.1 GB / 563K-tile slope raster
    * (`docs/performance.md:79-84`). All values are multiples of 1/64
    * (dyadic), so sums stay engine-exact. */
  def slopeValue(gx: Long, gy: Long): Double = {
    val base = (((gx * 3 + gy * 7) % 4096 + 4096) % 4096) / 64.0
    var h = (gx >> 3) * 0x9E3779B97F4A7C15L + (gy >> 3) * 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    base + java.lang.Long.remainderUnsigned(h, 16L) / 16.0
  }

  def slopeSchema: StructType = StructType(
    Seq(StructField("block", LongType, nullable = false),
      StructField("metadata", StringType),
      StructField("band_1", BinaryType),
      StructField("band_1_count", LongType), StructField("band_1_min", DoubleType),
      StructField("band_1_max", DoubleType), StructField("band_1_sum", DoubleType),
      StructField("band_1_mean", DoubleType), StructField("band_1_stddev", DoubleType)))

  def slopeMetadata(z: Int, x0: Long, y0: Long, nx: Int, ny: Int, bs: Int,
      minZoom: Int): RaquetMetadata =
    metadata(z, x0, y0, nx, ny, bs, minZoom, numBlocks = nx.toLong * ny).copy(
      bands = Seq(BandMeta("band_1", "float32", None, None, None, Some("gray"), None)))

  /** Native slope tiles, distributed; stats columns included (the
    * reference's --tile-stats layout). */
  def slopeTiles(spark: SparkSession, z: Int, x0: Long, y0: Long,
      nx: Int, ny: Int, bs: Int): DataFrame = {
    val sc = spark.sparkContext
    val tiles = for (ty <- 0 until ny; tx <- 0 until nx) yield (x0 + tx, y0 + ty)
    val slices = math.max(1, math.min(tiles.size, sc.defaultParallelism * 8))
    val rows = sc.parallelize(tiles, slices).map { case (x, y) =>
      val n = bs * bs
      val a = new Array[Double](n)
      var j = 0
      while (j < bs) {
        val gy = y * bs + j
        var i = 0
        while (i < bs) { a(j * bs + i) = slopeValue(x * bs + i, gy); i += 1 }
        j += 1
      }
      val s = PixelCodec.maskedStats(a, Double.NaN, null)
      Row(Quadbin.tileToCell(x, y, z), null,
        PixelCodec.encode(a, "float32", gzip = true),
        java.lang.Long.valueOf(s(0).toLong), s(1), s(2), s(3),
        PixelCodec.statsMean(s), PixelCodec.statsStddev(s))
    }
    spark.createDataFrame(rows, slopeSchema)
  }

  // --- interleaved (BIP) layout variant, spec raquet.md:49-57 ---

  /** 3-band uint8 pixel formula for the interleaved fixtures. */
  def v3(band: Int, gx: Long, gy: Long): Double = band match {
    case 1 => ((3 * gx + 5 * gy) % 256).toDouble
    case 2 => ((7 * gx + 11 * gy) % 256).toDouble
    case 3 => ((13 * gx + 17 * gy) % 256).toDouble
  }

  def bipMetadata(z: Int, x0: Long, y0: Long, nx: Int, ny: Int, bs: Int,
      compression: String): RaquetMetadata =
    metadata(z, x0, y0, nx, ny, bs, minZoom = z, numBlocks = nx.toLong * ny).copy(
      compression = Some(compression),
      bandLayout = "interleaved",
      bands = (1 to 3).map(k =>
        BandMeta(s"band_$k", "uint8", None, None, None, None, None)))

  /** Interleaved tiles with the whole-tile payload built by `pack`. */
  private def bipTiles(spark: SparkSession, z: Int, x0: Long, y0: Long,
      nx: Int, ny: Int, bs: Int)(pack: Array[Byte] => Array[Byte]): DataFrame = {
    val sc = spark.sparkContext
    val tiles = for (ty <- 0 until ny; tx <- 0 until nx) yield (x0 + tx, y0 + ty)
    val rows = sc.parallelize(tiles, math.max(1, math.min(tiles.size, 16)))
      .map { case (x, y) =>
        val bands = (1 to 3).map { k =>
          val a = new Array[Byte](bs * bs)
          var j = 0
          while (j < bs) {
            var i = 0
            while (i < bs) {
              a(j * bs + i) = v3(k, x * bs + i, y * bs + j).toInt.toByte
              i += 1
            }
            j += 1
          }
          a
        }.toArray
        Row(Quadbin.tileToCell(x, y, z), null: String,
          pack(Multimodal.interleave(bands, 1)))
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("block", LongType, nullable = false),
      StructField("metadata", StringType),
      StructField("pixels", BinaryType))))
  }

  /** Committed BIP+gzip fixture (exact; driver-oracle-verifiable). */
  def writeGradient16Bip(spark: SparkSession, file: String): Unit = {
    val meta = bipMetadata(6, 32, 24, 8, 8, 16, "gzip")
    val df = bipTiles(spark, 6, 32, 24, 8, 8, 16)(PixelCodec.gzipCompress)
    RaquetIO.writeSingleFile(df, meta, file)
  }

  /** BIP+JPEG variant (lossy; structural/tolerance checks only). */
  def writeGradient16Jpeg(spark: SparkSession, file: String): Unit = {
    val meta = bipMetadata(6, 32, 24, 8, 8, 16, "jpeg")
    val df = bipTiles(spark, 6, 32, 24, 8, 8, 16)(
      Multimodal.encodeJpeg(_, 16, 16, 3, quality = 95))
    RaquetIO.writeSingleFile(df, meta, file)
  }

  /** Deterministic RGB PNG tile of the [[v3]] formulas — what an in-process
    * XYZ endpoint serves for S7 ingest proofs (PNG is lossless, so fetched
    * rows compare exactly). */
  def pngTile3(x: Long, y: Long, bs: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(bs, bs,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (j <- 0 until bs; i <- 0 until bs) {
      val gx = x * bs + i; val gy = y * bs + j
      img.setRGB(i, j, (v3(1, gx, gy).toInt << 16) |
        (v3(2, gx, gy).toInt << 8) | v3(3, gx, gy).toInt)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic multi-feature RGB test card shared by [[Vp8EncSpec]],
    * `tools/gen_vp8enc_goldens.py` (via the dumped streams) and the q83
    * driver query: smooth color gradients, a sharp LUMA edge, and gray
    * noise. Chroma is kept smooth on purpose — 4:2:0 subsampling (inherent
    * to VP8) would cap PSNR at ~17 dB for ANY encoder on pixel-rate chroma
    * noise. Formula changes require re-blessing the encoder goldens. */
  def testCardRgb(w: Int, h: Int, channels: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * channels)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) =
          if (x < w / 2 && y < h / 2) { // smooth warm gradient
            val t = x * 255 / math.max(1, w - 1)
            (t, t * 3 / 4 + 32, 64)
          } else if (x >= w / 2 && y < h / 2) { // sharp luma edge, no chroma edge
            val v = if (x > w * 3 / 4) 230 else 25
            (v, v, v)
          } else if (x < w / 2) { // gray texture (chroma-free noise)
            val v = ((x * 7 + y * 13) * 31) % 256
            (v, v, v)
          } else { // smooth cool gradient
            val t = y * 255 / math.max(1, h - 1)
            (96, t, 255 - t / 2)
          }
        val o = (y * w + x) * channels
        out(o) = r.toByte
        if (channels >= 3) { out(o + 1) = g.toByte; out(o + 2) = b.toByte }
        if (channels == 4) out(o + 3) = ((x * 5 + y * 3) % 256).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Interleaved fixture with webp-lossless tiles — same grid/formula as the
    * JPEG one, but round-trips bit-exactly (VP8L is lossless). */
  def writeGradient16WebP(spark: SparkSession, file: String): Unit = {
    val meta = bipMetadata(6, 32, 24, 8, 8, 16, "webp")
    val df = bipTiles(spark, 6, 32, 24, 8, 8, 16)(
      Multimodal.encodeWebP(_, 16, 16, 3))
    RaquetIO.writeSingleFile(df, meta, file)
  }

  // --- time-series variant, spec raquet.md:67-87 ---

  /** Time-series pixel formula: native band_2 DN plus a per-step offset
    * (all dyadic-exact). t is the step index 0..5; time_cf = 1440·t
    * ("minutes since 2020-01-01", P1D resolution, period_start). */
  def vT(gx: Long, gy: Long, t: Int): Double = gx * 0.5 + gy * 0.25 + 16.0 * t

  def timeMetadata(z: Int, x0: Long, y0: Long, nx: Int, ny: Int, bs: Int): RaquetMetadata =
    metadata(z, x0, y0, nx, ny, bs, minZoom = z, numBlocks = nx.toLong * ny).copy(
      bands = Seq(BandMeta("band_1", "float32", None, None, None, None, None)),
      time = Some(TimeMeta("minutes since 2020-01-01 00:00:00", "standard",
        Some("P1D"), Some("period_start"), Some(6))))

  /** Committed time-series fixture: one row per (tile, timestep), composite
    * key (block, time_cf), 64 tiles × 6 daily steps. */
  def writeGradient16Time(spark: SparkSession, file: String): Unit = {
    val meta = timeMetadata(6, 32, 24, 8, 8, 16)
    val info = CfTime.parseUnits(meta.time.get.cfUnits).get
    val sc = spark.sparkContext
    val tiles = for (ty <- 0 until 8; tx <- 0 until 8; t <- 0 until 6)
      yield (32L + tx, 24L + ty, t)
    val rows = sc.parallelize(tiles, 16).map { case (x, y, t) =>
      val a = new Array[Double](256)
      var j = 0
      while (j < 16) {
        var i = 0
        while (i < 16) { a(j * 16 + i) = vT(x * 16 + i, y * 16 + j, t); i += 1 }
        j += 1
      }
      val cf = 1440.0 * t
      Row(Quadbin.tileToCell(x, y, 6), null: String,
        PixelCodec.encode(a, "float32", gzip = true), cf,
        new java.sql.Timestamp(info.toEpochMicros(cf) / 1000))
    }
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("block", LongType, nullable = false),
      StructField("metadata", StringType),
      StructField("band_1", BinaryType),
      StructField("time_cf", DoubleType),
      StructField("time_ts", TimestampType))))
    RaquetIO.writeSingleFile(df, meta, file)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "src/test/resources/raquet"
    val spark = graft.SessionDefaults.session("graft-fixturegen")
    writeGradient16(spark, s"$dir/gradient16.parquet")
    writeGradient16Bip(spark, s"$dir/gradient16_bip.parquet")
    writeGradient16Time(spark, s"$dir/gradient16_time.parquet")
    println(s"wrote $dir/gradient16{,_bip,_time}.parquet")
    spark.stop()
  }
}
