package graft.raquet

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Band-blob codec + per-tile kernels. Pure JVM, primitive-array loops
  * (JIT-friendly), called from Catalyst expression codegen as static methods.
  *
  * Format semantics from the reference: blobs are little-endian row-major
  * pixel arrays, optionally gzip-compressed (`format-specs/raquet.md:40-47`);
  * band types `raquet.md:337`; decode sites `raquet/raquet2geotiff.py:397-399`,
  * `raquet/validate.py:231-247`. Stats semantics mirror
  * `read_statistics_numpy` (`raquet/raster2raquet.py:525-574`): NaN/Inf are
  * always masked, nodata masked when defined. Unlike the reference's
  * `combine_stats` (`raster2raquet.py:473-499`, count-weighted stddev
  * average — an approximation), we carry sum-of-squares so merges are exact.
  */
object PixelCodec {

  def gzipCompress(data: Array[Byte]): Array[Byte] =
    gzipCompress(data, java.util.zip.Deflater.DEFAULT_COMPRESSION)

  /** Level-parameterized gzip. Derived rasters (focal output: float64 mean
    * mantissas, near-incompressible) use BEST_SPEED — ~4× the deflate
    * throughput for a few % size — while ingested data keeps the default
    * level that matches the reference's output sizes. */
  def gzipCompress(data: Array[Byte], level: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new GZIPOutputStream(bos) { `def`.setLevel(level) }
    gz.write(data)
    gz.close()
    bos.toByteArray
  }

  // Per-thread native zlib streams: a full-scan decodes hundreds of
  // thousands of ~30 KB blobs, and constructing GZIPInputStream (a fresh
  // native Inflater + 8 KB buffer) per blob is measurable against the
  // ~100 µs inflate itself. Task threads are pooled, so the retained
  // native state is bounded.
  private val tlInflater = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater(true) // raw deflate; gzip framing parsed here
  }
  private val tlCrc = new ThreadLocal[java.util.zip.CRC32] {
    override def initialValue(): java.util.zip.CRC32 = new java.util.zip.CRC32
  }

  def gzipDecompress(data: Array[Byte]): Array[Byte] =
    gzipInflate(data, new Array[Byte](_))._1

  // Scratch for the fused decode→stats path: the kernel reads the inflated
  // bytes once and never retains them, so one reusable ~256 KB buffer per
  // pooled task thread replaces a fresh allocation per tile (a 595k-tile
  // full scan otherwise churns ~150 GB through the young gen).
  private val tlScratch = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 18)
  }

  /** Inflate into a caller-provided buffer; returns (buffer, validLength).
    * CALLER MUST NOT RETAIN the buffer past one tile when it is the
    * thread-local scratch. */
  private def gzipInflateScratch(data: Array[Byte]): (Array[Byte], Int) =
    gzipInflate(data, sz => {
      var s = tlScratch.get()
      if (s.length < sz) { s = new Array[Byte](sz); tlScratch.set(s) }
      s
    })

  /** Single-member gzip carries the uncompressed size (mod 2^32) in the
    * ISIZE trailer: obtain one right-sized buffer from `alloc` and fill it,
    * instead of growing a stream. Anything unusual (multi-member, huge,
    * truncated) falls back to the fully general streaming path. Returns
    * (buffer, validLength) — buffer may exceed validLength only when
    * `alloc` over-provisions (scratch reuse). */
  private def gzipInflate(data: Array[Byte],
      alloc: Int => Array[Byte]): (Array[Byte], Int) = {
    def streamed: (Array[Byte], Int) = {
      val a = gzipDecompressStreaming(data)
      (a, a.length)
    }
    val m = data.length
    if (m < 18) return streamed
    val isize = (data(m - 4) & 0xFF) | ((data(m - 3) & 0xFF) << 8) |
      ((data(m - 2) & 0xFF) << 16) | ((data(m - 1) & 0xFF) << 24)
    if (isize <= 0 || isize > (1 << 30)) return streamed
    // fixed 10-byte header + optional FEXTRA/FNAME/FCOMMENT/FHCRC fields
    val flg = data(3) & 0xFF
    var off = 10
    try {
      if ((flg & 4) != 0) {
        off += 2 + ((data(off) & 0xFF) | ((data(off + 1) & 0xFF) << 8))
      }
      if ((flg & 8) != 0) { while (data(off) != 0) off += 1; off += 1 }
      if ((flg & 16) != 0) { while (data(off) != 0) off += 1; off += 1 }
      if ((flg & 2) != 0) off += 2
    } catch {
      case _: ArrayIndexOutOfBoundsException => return streamed
    }
    if (off >= m - 8) return streamed
    val inf = tlInflater.get()
    inf.reset()
    inf.setInput(data, off, m - 8 - off)
    val out = alloc(isize)
    var got = 0
    try {
      while (got < isize && !inf.finished()) {
        val r = inf.inflate(out, got, isize - got)
        if (r == 0 && !inf.finished()) return streamed
        got += r
      }
    } catch {
      case _: java.util.zip.DataFormatException => return streamed
    }
    // multi-member blobs leave bytes before the final trailer; ISIZE may
    // also understate — both go through the general path
    if (got != isize || !inf.finished() || inf.getRemaining != 0)
      return streamed
    // same integrity guarantee as GZIPInputStream: verify the CRC32 trailer
    val crc = tlCrc.get()
    crc.reset()
    crc.update(out, 0, isize)
    val want = (data(m - 8) & 0xFFL) | ((data(m - 7) & 0xFFL) << 8) |
      ((data(m - 6) & 0xFFL) << 16) | ((data(m - 5) & 0xFFL) << 24)
    if (crc.getValue != want)
      throw new java.util.zip.ZipException(
        f"corrupt gzip blob: CRC 0x${crc.getValue}%08x != 0x$want%08x")
    (out, isize)
  }

  private def gzipDecompressStreaming(data: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(data), 8192)
    val out = new ByteArrayOutputStream(data.length * 4 + 64)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  /** True if the blob starts with the gzip magic — lets decode work on mixed
    * compressed/uncompressed data without trusting metadata blindly. */
  def isGzip(data: Array[Byte]): Boolean =
    data.length > 2 && data(0) == 0x1f.toByte && data(1) == 0x8b.toByte

  def bytesPerPixel(dtype: String): Int = dtype match {
    case "uint8" | "int8" => 1
    case "uint16" | "int16" | "float16" => 2
    case "uint32" | "int32" | "float32" => 4
    case "uint64" | "int64" | "float64" => 8
    case other => throw new IllegalArgumentException(s"band type: $other")
  }

  /** Decode a (possibly gzipped) band blob to doubles. int64/uint64 above
    * 2^53 lose precision — same as any SQL-double engine surface. */
  def decode(raw: Array[Byte], dtype: String): Array[Double] = {
    val data = if (isGzip(raw)) gzipDecompress(raw) else raw
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val n = data.length / bytesPerPixel(dtype)
    val out = new Array[Double](n)
    var i = 0
    dtype match {
      case "uint8"   => while (i < n) { out(i) = bb.get(i) & 0xFF; i += 1 }
      case "int8"    => while (i < n) { out(i) = bb.get(i); i += 1 }
      case "uint16"  => while (i < n) { out(i) = bb.getShort(i * 2) & 0xFFFF; i += 1 }
      case "int16"   => while (i < n) { out(i) = bb.getShort(i * 2); i += 1 }
      case "uint32"  => while (i < n) { out(i) = bb.getInt(i * 4) & 0xFFFFFFFFL; i += 1 }
      case "int32"   => while (i < n) { out(i) = bb.getInt(i * 4); i += 1 }
      case "uint64"  => while (i < n) {
        val v = bb.getLong(i * 8)
        out(i) = if (v >= 0) v.toDouble else v.toDouble + 1.8446744073709552E19
        i += 1
      }
      case "int64"   => while (i < n) { out(i) = bb.getLong(i * 8).toDouble; i += 1 }
      case "float16" => while (i < n) { out(i) = halfToDouble(bb.getShort(i * 2)); i += 1 }
      case "float32" => while (i < n) { out(i) = bb.getFloat(i * 4); i += 1 }
      case "float64" => while (i < n) { out(i) = bb.getDouble(i * 8); i += 1 }
      case other => throw new IllegalArgumentException(s"band type: $other")
    }
    out
  }

  /** Encode doubles to a little-endian blob of `dtype`, optionally gzipped. */
  def encode(values: Array[Double], dtype: String, gzip: Boolean): Array[Byte] =
    encode(values, dtype, gzip, java.util.zip.Deflater.DEFAULT_COMPRESSION)

  def encode(values: Array[Double], dtype: String, gzip: Boolean,
      level: Int): Array[Byte] = {
    val bpp = bytesPerPixel(dtype)
    val bb = ByteBuffer.allocate(values.length * bpp).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    val n = values.length
    dtype match {
      case "uint8" | "int8"   => while (i < n) { bb.put(i, values(i).toByte); i += 1 }
      case "uint16" | "int16" => while (i < n) { bb.putShort(i * 2, values(i).toShort); i += 1 }
      // uint32/uint64 wrap through the full unsigned range instead of
      // saturating at the signed max (Double.toInt clamps): go via toLong
      // for uint32; mirror the decode bias for uint64 values >= 2^63.
      case "uint32" => while (i < n) { bb.putInt(i * 4, values(i).toLong.toInt); i += 1 }
      case "int32"  => while (i < n) { bb.putInt(i * 4, values(i).toInt); i += 1 }
      case "uint64" => while (i < n) {
        val v = values(i)
        val bits = if (v >= 9.223372036854776E18) (v - 1.8446744073709552E19).toLong else v.toLong
        bb.putLong(i * 8, bits); i += 1
      }
      case "int64"  => while (i < n) { bb.putLong(i * 8, values(i).toLong); i += 1 }
      case "float16" => while (i < n) { bb.putShort(i * 2, doubleToHalf(values(i))); i += 1 }
      case "float32" => while (i < n) { bb.putFloat(i * 4, values(i).toFloat); i += 1 }
      case "float64" => while (i < n) { bb.putDouble(i * 8, values(i)); i += 1 }
      case other => throw new IllegalArgumentException(s"band type: $other")
    }
    val raw = bb.array()
    if (gzip) gzipCompress(raw, level) else raw
  }

  def halfToDouble(h: Short): Double = {
    val bits = h & 0xFFFF
    val sign = if ((bits & 0x8000) != 0) -1.0 else 1.0
    val exp = (bits >> 10) & 0x1F
    val mant = bits & 0x3FF
    if (exp == 0x1F) { if (mant == 0) sign * Double.PositiveInfinity else Double.NaN }
    else if (exp == 0) sign * mant * math.pow(2, -24)
    else sign * (1024 + mant) * math.pow(2, exp - 25)
  }

  def doubleToHalf(d: Double): Short = {
    val fbits = java.lang.Float.floatToIntBits(d.toFloat)
    val sign = (fbits >>> 16) & 0x8000
    var v = (fbits & 0x7fffffff) + 0x1000
    if (v >= 0x47800000) {
      if ((fbits & 0x7fffffff) >= 0x47800000) {
        if ((fbits & 0x7fffffff) < 0x7f800000) return (sign | 0x7c00).toShort
        return (sign | 0x7c00 | ((fbits & 0x007fffff) >>> 13)).toShort
      }
      return (sign | 0x7bff).toShort
    }
    if (v >= 0x38800000) return (sign | ((v - 0x38000000) >>> 13)).toShort
    if (v < 0x33000000) return sign.toShort
    v = (fbits & 0x7fffffff) >>> 23
    (sign | ((((fbits & 0x7fffff) | 0x800000) + (0x800000 >>> (v - 102))) >>> (126 - v))).toShort
  }

  // --- per-tile stats kernel (A1) ---
  // layout of the stats vector: [count, min, max, sum, sum_sq]
  final val StatCount = 0; final val StatMin = 1; final val StatMax = 2
  final val StatSum = 3; final val StatSumSq = 4

  /** Valid-pixel stats with NaN/Inf + nodata masking over the pixels of
    * `runs`, in run order (null runs = every pixel, in order). Returns null
    * when no valid pixels (the reference's empty-tile semantics). */
  def maskedStats(values: Array[Double], nodata: Double, runs: PixelRuns): Array[Double] = {
    val kept = if (runs == null) PixelRuns.all(values.length) else runs
    var count = 0L
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var sum = 0.0
    var sumSq = 0.0
    val hasNodata = !nodata.isNaN
    var r = 0
    while (r < kept.count) {
      var i = kept.start(r)
      val end = kept.end(r)
      while (i < end) {
        val v = values(i)
        if (!java.lang.Double.isNaN(v) && !java.lang.Double.isInfinite(v) &&
            !(hasNodata && v == nodata)) {
          count += 1
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          sumSq += v * v
        }
        i += 1
      }
      r += 1
    }
    if (count == 0) null
    else Array(count.toDouble, mn, mx, sum, sumSq)
  }

  /** Fused decode→stats: inflate + ONE pass over the raw dtype bytes — no
    * intermediate double array, no second memory sweep. The accumulation
    * order is the sequential pixel order, identical to
    * `maskedStats(decode(...))`, so results are bit-identical; dtypes
    * without a fused loop fall back to exactly that. */
  def fusedStats(raw: Array[Byte], dtype: String, nodata: Double): Array[Double] = {
    val (data, len) =
      if (isGzip(raw)) gzipInflateScratch(raw) else (raw, raw.length)
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val n = len / bytesPerPixel(dtype)
    var count = 0L
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var sum = 0.0
    var sumSq = 0.0
    val hasNodata = !nodata.isNaN
    var i = 0
    dtype match {
      case "uint8" =>
        while (i < n) {
          val v = (bb.get(i) & 0xFF).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "int8" =>
        while (i < n) {
          val v = bb.get(i).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "uint16" =>
        while (i < n) {
          val v = (bb.getShort(i * 2) & 0xFFFF).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "int16" =>
        while (i < n) {
          val v = bb.getShort(i * 2).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "int32" =>
        while (i < n) {
          val v = bb.getInt(i * 4).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "uint32" =>
        while (i < n) {
          val v = (bb.getInt(i * 4) & 0xFFFFFFFFL).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "float32" =>
        // the hottest loop in the engine (the 19 GB full scans spend ~80%
        // of their CPU here, JFR-profiled): NaN/Inf reduces to ONE integer
        // exponent-mask test on the raw bits (replaces two double
        // compares) and the nodata branch hoists out of the loop; the
        // load stays bb.getInt/getLong (JIT-intrinsified — manual byte
        // assembly measured SLOWER). Accept set and accumulation order
        // are IDENTICAL to the generic path — results bit-exact.
        if (!hasNodata) {
          while (i < n) {
            val bits = bb.getInt(i << 2) // intrinsified unaligned load
            if ((bits & 0x7F800000) != 0x7F800000) { // finite: not NaN/Inf
              val v = java.lang.Float.intBitsToFloat(bits).toDouble
              count += 1; if (v < mn) mn = v; if (v > mx) mx = v
              sum += v; sumSq += v * v
            }
            i += 1
          }
        } else {
          while (i < n) {
            val bits = bb.getInt(i << 2)
            if ((bits & 0x7F800000) != 0x7F800000) {
              val v = java.lang.Float.intBitsToFloat(bits).toDouble
              if (v != nodata) {
                count += 1; if (v < mn) mn = v; if (v > mx) mx = v
                sum += v; sumSq += v * v
              }
            }
            i += 1
          }
        }
      case "float64" =>
        // same single-exponent-test shape as float32
        if (!hasNodata) {
          while (i < n) {
            val bits = bb.getLong(i << 3)
            if ((bits & 0x7FF0000000000000L) != 0x7FF0000000000000L) {
              val v = java.lang.Double.longBitsToDouble(bits)
              count += 1; if (v < mn) mn = v; if (v > mx) mx = v
              sum += v; sumSq += v * v
            }
            i += 1
          }
        } else {
          while (i < n) {
            val bits = bb.getLong(i << 3)
            if ((bits & 0x7FF0000000000000L) != 0x7FF0000000000000L) {
              val v = java.lang.Double.longBitsToDouble(bits)
              if (v != nodata) {
                count += 1; if (v < mn) mn = v; if (v > mx) mx = v
                sum += v; sumSq += v * v
              }
            }
            i += 1
          }
        }
      case "float16" =>
        while (i < n) {
          val v = halfToDouble(bb.getShort(i * 2))
          if (!java.lang.Double.isNaN(v) && !java.lang.Double.isInfinite(v) &&
            !(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "int64" =>
        while (i < n) {
          val v = bb.getLong(i * 8).toDouble
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case "uint64" =>
        while (i < n) {
          val l = bb.getLong(i * 8)
          val v = if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552E19
          if (!(hasNodata && v == nodata)) {
            count += 1; if (v < mn) mn = v; if (v > mx) mx = v
            sum += v; sumSq += v * v
          }
          i += 1
        }
      case other => throw new IllegalArgumentException(s"band type: $other")
    }
    if (count == 0) null
    else Array(count.toDouble, mn, mx, sum, sumSq)
  }

  def statsMean(s: Array[Double]): Double = s(StatSum) / s(StatCount)

  /** A4: approximate native-zoom stats from a coarser zoom — count/sum/sumSq
    * scale by 4^Δz, min/max/mean/stddev are zoom-invariant (reference
    * `RasterStats.scale_by`, `raster2raquet.py:188-199`). */
  def scaleStats(s: Array[Double], deltaZoom: Int): Array[Double] = {
    if (s == null) return null
    val f = math.pow(4.0, deltaZoom)
    Array(s(StatCount) * f, s(StatMin), s(StatMax), s(StatSum) * f, s(StatSumSq) * f)
  }

  /** Population stddev from count/sum/sum². */
  def statsStddev(s: Array[Double]): Double = {
    val n = s(StatCount); val mean = s(StatSum) / n
    math.sqrt(math.max(0.0, s(StatSumSq) / n - mean * mean))
  }
}
