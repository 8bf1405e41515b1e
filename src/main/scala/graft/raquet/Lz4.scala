package graft.raquet

/** LZ4 *block* format codec (the public `lz4_Block_format.md` spec): the
  * compression inside Blosc chunks, which in turn is the default codec of
  * Zarr v2 stores written by zarr-python/numcodecs. Pure JVM — no native
  * liblz4 — same no-native-deps stance as the VP8/VP8L and deflate paths.
  *
  * Format recap (spec, not implementation, reference): a stream of
  * sequences `[token][literal-len ext][literals][offset u16 LE]
  * [match-len ext]`; token high nibble = literal length (15 ⇒ continue
  * with 255-bytes), low nibble = match length − 4; the final sequence is
  * literals-only. Matches may overlap forward (offset < length ⇒
  * byte-by-byte replication).
  *
  * The encoder is a simple greedy hash-chain matcher emitting spec-legal
  * streams (last 5 bytes literal, no match starting within the final 12
  * bytes) — used by the Blosc/Zarr fixture writers and the round-trip
  * specs; ratio is not the goal, legality and determinism are. */
object Lz4 {

  /** Decompress one LZ4 block into exactly `outLen` bytes. Fails loudly
    * (IllegalArgumentException) on truncation, bad offsets, or output
    * overrun — malformed remote chunks must never produce silent pixels. */
  def decompress(src: Array[Byte], srcOff: Int, srcLen: Int,
      outLen: Int): Array[Byte] = {
    require(srcOff >= 0 && srcLen >= 0 && srcOff + srcLen <= src.length,
      s"lz4: bad input span $srcOff+$srcLen of ${src.length}")
    require(outLen >= 0 && outLen <= (1 << 30), s"lz4: implausible outLen $outLen")
    val out = new Array[Byte](outLen)
    var ip = srcOff
    val end = srcOff + srcLen
    var op = 0
    def varLen(base: Int): Int = {
      var n = base
      if (base == 15) {
        var b = 0xFF
        while (b == 0xFF) {
          require(ip < end, "lz4: truncated length")
          b = src(ip) & 0xFF; ip += 1
          n += b
          require(n >= 0 && n <= (1 << 30), "lz4: runaway length")
        }
      }
      n
    }
    while (ip < end) {
      val token = src(ip) & 0xFF; ip += 1
      val litLen = varLen(token >>> 4)
      require(ip + litLen <= end, "lz4: literals overrun input")
      require(op + litLen <= outLen, "lz4: literals overrun output")
      System.arraycopy(src, ip, out, op, litLen)
      ip += litLen; op += litLen
      if (ip < end) { // a match follows unless this was the final sequence
        require(ip + 2 <= end, "lz4: truncated match offset")
        val offset = (src(ip) & 0xFF) | ((src(ip + 1) & 0xFF) << 8); ip += 2
        require(offset > 0 && offset <= op, s"lz4: bad match offset $offset at $op")
        val matchLen = varLen(token & 0xF) + 4
        require(op + matchLen <= outLen, "lz4: match overruns output")
        val from = op - offset
        var k = 0
        while (k < matchLen) { // forward copy handles overlap correctly
          out(op + k) = out(from + k); k += 1
        }
        op += matchLen
      }
    }
    require(op == outLen, s"lz4: block decoded $op of expected $outLen bytes")
    out
  }

  /** Greedy single-pass compressor (4-byte hash table, 64 KB window). */
  def compress(src: Array[Byte]): Array[Byte] = {
    val n = src.length
    val outBuf = new java.io.ByteArrayOutputStream(n / 2 + 16)
    def writeLen(base: Int, extraInto: java.io.ByteArrayOutputStream): Unit = {
      var rest = base - 15
      while (rest >= 255) { extraInto.write(255); rest -= 255 }
      extraInto.write(rest)
    }
    def emit(litStart: Int, litLen: Int, matchLen: Int, offset: Int): Unit = {
      val litNib = math.min(litLen, 15)
      val matNib = if (matchLen == 0) 0 else math.min(matchLen - 4, 15)
      outBuf.write((litNib << 4) | matNib)
      if (litLen >= 15) writeLen(litLen, outBuf)
      outBuf.write(src, litStart, litLen)
      if (matchLen > 0) {
        outBuf.write(offset & 0xFF); outBuf.write((offset >>> 8) & 0xFF)
        if (matchLen - 4 >= 15) writeLen(matchLen - 4, outBuf)
      }
    }
    if (n == 0) { outBuf.write(0); return outBuf.toByteArray } // empty literal run
    val hashBits = 16
    val table = new Array[Int](1 << hashBits)
    java.util.Arrays.fill(table, -1)
    def hash(i: Int): Int = {
      val v = (src(i) & 0xFF) | ((src(i + 1) & 0xFF) << 8) |
        ((src(i + 2) & 0xFF) << 16) | ((src(i + 3) & 0xFF) << 24)
      (v * -1640531535) >>> (32 - hashBits) // Knuth multiplicative
    }
    // spec end conditions: no match may start within the last 12 bytes and
    // the stream must end with >= 5 literal bytes
    val matchLimit = n - 12
    var anchor = 0
    var i = 0
    while (i < matchLimit && i + 4 <= n) {
      val h = hash(i)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 && i - cand <= 0xFFFF &&
          src(cand) == src(i) && src(cand + 1) == src(i + 1) &&
          src(cand + 2) == src(i + 2) && src(cand + 3) == src(i + 3)) {
        var len = 4
        val maxLen = n - 5 - i // keep the 5-byte literal tail
        while (len < maxLen && src(cand + len) == src(i + len)) len += 1
        if (len >= 4) {
          emit(anchor, i - anchor, len, i - cand)
          i += len
          anchor = i
        } else i += 1
      } else i += 1
    }
    emit(anchor, n - anchor, 0, 0) // final literals-only sequence
    outBuf.toByteArray
  }
}
