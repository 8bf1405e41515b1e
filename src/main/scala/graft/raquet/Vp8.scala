package graft.raquet

/** Lossy WebP (VP8) key-frame decoder — RFC 6386, the public VP8 Data
  * Format and Decoding Guide. Closes the last read-parity hole: the
  * reference writes `compression="webp"` via Pillow's lossy encoder
  * (`raquet/raster2raquet.py:845`), which emits VP8 intra frames.
  *
  * Implements the full key-frame path: boolean arithmetic decoder (§7),
  * frame/segmentation/filter/quantizer headers (§9), keyframe intra mode
  * parsing (§11.5), DCT token decoding with coefficient-band contexts
  * (§13), dequantization (§14.1), inverse WHT/DCT (§14.3-14.4), the 16×16 /
  * 8×8 / 4×4 intra predictors (§12), and the normal + simple loop filters
  * (§15). Probability tables are the RFC's normative constants
  * ([[Vp8Tables]]).
  *
  * Conformance: fixtures under `src/test/resources/webp/` were encoded AND
  * decoded by the system libwebp; [[Vp8Spec]] requires bit-exact pixel
  * equality against those goldens (the YUV→RGB stage reproduces libwebp's
  * fixed-point conversion + fancy upsampling, so whole-pipeline output
  * matches byte for byte).
  */
object Vp8 {

  // ------------------------------------------------------------ bool decoder

  /** RFC 6386 §7.3 reference decoder: 16-bit value window over the stream,
    * byte-fed on renormalization. Reads past the end yield zero bytes (the
    * spec's convention for trailing bits). */
  final class BoolDecoder(buf: Array[Byte], start: Int, end0: Int) {
    // clamp: malformed partition sizes must read as zero bits past the
    // buffer (the spec's trailing-bits convention), not index out of range
    private val end = math.min(end0, buf.length)
    private var pos = start
    private var value = {
      val b0 = if (pos < end) buf(pos) & 0xFF else 0
      val b1 = if (pos + 1 < end) buf(pos + 1) & 0xFF else 0
      pos += 2
      (b0 << 8) | b1
    }
    private var range = 255
    private var bitCount = 0

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1; range <<= 1
        bitCount += 1
        if (bitCount == 8) {
          bitCount = 0
          value |= (if (pos < end) buf(pos) & 0xFF else 0)
          pos += 1
        }
      }
      ret
    }
    /** n-bit unsigned literal, MSB first (§7.4). */
    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }
    /** Value + sign bit (§9.3). */
    def signedLiteral(n: Int): Int = {
      val v = literal(n); if (bool(128) == 1) -v else v
    }
    /** flag → signed literal, else 0 (the "L(n)+sign if B(1)" pattern). */
    def flagged(n: Int): Int = if (bool(128) == 1) signedLiteral(n) else 0
    /** Token-tree read (§8.2): pairs indexed by probability node. */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int = 0, startAt: Int = 0): Int = {
      var i = startAt
      while (true) {
        i = t(i + bool(probs(probOff + (i >> 1))))
        if (i <= 0) return -i
      }
      0 // unreachable
    }
  }

  // ------------------------------------------------------------ constants

  // intra modes (§11.2): DC, V, H, TM, B_PRED
  private final val BPred = 4
  // 4x4 modes in the numbering of the extracted probability table (libwebp's
  // enum, a permutation of the RFC's listing): B_DC=0, B_TM=1, B_VE=2,
  // B_HE=3, B_RD=4, B_VR=5, B_LD=6, B_VL=7, B_HD=8, B_HU=9
  private[raquet] val KfYModeTree = Array(-BPred, 2, 4, 6, -0, -1, -2, -3)
  private[raquet] val KfYModeProb = Array(145, 156, 163, 128)
  private[raquet] val UvModeTree = Array(-0, 2, -1, 4, -2, -3)
  private[raquet] val KfUvModeProb = Array(142, 114, 183)
  private[raquet] val BModeTree = Array(
    -0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -4, -5, -6, 14, -7, 16, -8, -9)
  private val SegmentTree = Array(2, 4, -0, -1, -2, -3)
  /** 16×16 mode → implied subblock mode for B-mode context (§11.3). */
  private[raquet] val ImpliedBMode = Array(0, 2, 3, 1) // DC→B_DC, V→B_VE, H→B_HE, TM→B_TM

  // token tree (§13.2): DCT_0..4, cat1..6, EOB=11
  private[raquet] val CoeffTree = Array(
    -11, 2, -0, 4, -1, 6, 8, 12, -2, 10, -3, -4, 14, 16, -5, -6, 18, 20,
    -7, -8, -9, -10)
  private[raquet] val CatProbs: Array[Array[Int]] = Array(
    Array(159), Array(165, 145), Array(173, 148, 140),
    Array(176, 155, 140, 135), Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
  private[raquet] val CatBase = Array(5, 7, 11, 19, 35, 67)
  private[raquet] val CoeffBands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
  private[raquet] val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  private[raquet] def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private[raquet] def clampQ(v: Int, hi: Int = 127): Int = if (v < 0) 0 else if (v > hi) hi else v

  // unsigned coeff-prob tables as Int arrays (fast, no & 0xFF per read)
  private[raquet] val CoeffProbsDefault: Array[Int] = Vp8Tables.DefaultCoeffProbs.map(_ & 0xFF)
  private[raquet] val CoeffUpdate: Array[Int] = Vp8Tables.CoeffUpdateProbs.map(_ & 0xFF)
  private[raquet] val KfBMode: Array[Int] = Vp8Tables.KfBModeProb.map(_ & 0xFF)

  // ------------------------------------------------------------ frame model

  final case class Frame(width: Int, height: Int, mbW: Int, mbH: Int,
      y: Array[Int], u: Array[Int], v: Array[Int]) {
    def yStride: Int = mbW * 16
    def uvStride: Int = mbW * 8
  }

  // per-macroblock state kept for the loop filter
  private final class MbInfo {
    var yMode = 0
    var segment = 0
    var skip = false
    var hasCoeffs = false
  }

  // ------------------------------------------------------------ decode

  def decode(data: Array[Byte], off: Int, len: Int): Frame = {
    val end = off + len
    require(len >= 10, "VP8 chunk too short")
    val tag = (data(off) & 0xFF) | ((data(off + 1) & 0xFF) << 8) |
      ((data(off + 2) & 0xFF) << 16)
    val keyFrame = (tag & 1) == 0
    require(keyFrame, "VP8 interframe in a WebP still image is invalid")
    val firstPartSize = (tag >> 5) & 0x7FFFF
    require((data(off + 3) & 0xFF) == 0x9d && (data(off + 4) & 0xFF) == 0x01 &&
      (data(off + 5) & 0xFF) == 0x2a, "bad VP8 keyframe start code")
    val w16 = (data(off + 6) & 0xFF) | ((data(off + 7) & 0xFF) << 8)
    val h16 = (data(off + 8) & 0xFF) | ((data(off + 9) & 0xFF) << 8)
    val width = w16 & 0x3FFF
    val height = h16 & 0x3FFF
    require(width > 0 && height > 0, "empty VP8 frame")
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4

    val part0 = off + 10
    val bd = new BoolDecoder(data, part0, part0 + firstPartSize)

    // --- frame header (§9.2-9.11), keyframe layout ---
    bd.literal(1) // color space (must be 0)
    bd.literal(1) // clamping type (decode is identical either way here)

    // segmentation (§9.3)
    var segEnabled = false; var segUpdateMap = false
    val segTreeProbs = Array(255, 255, 255)
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    var segAbsolute = false
    if (bd.bool(128) == 1) {
      segEnabled = true
      segUpdateMap = bd.bool(128) == 1
      val updateData = bd.bool(128) == 1
      if (updateData) {
        segAbsolute = bd.bool(128) == 1
        var i = 0
        while (i < 4) { segQuant(i) = bd.flagged(7); i += 1 }
        i = 0
        while (i < 4) { segFilter(i) = bd.flagged(6); i += 1 }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          segTreeProbs(i) = if (bd.bool(128) == 1) bd.literal(8) else 255
          i += 1
        }
      }
    }

    // loop filter header (§9.4)
    val simpleFilter = bd.literal(1) == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    var lfDeltaEnabled = false
    val refLfDeltas = new Array[Int](4)
    val modeLfDeltas = new Array[Int](4)
    if (bd.bool(128) == 1) {
      lfDeltaEnabled = true
      if (bd.bool(128) == 1) { // update
        var i = 0
        while (i < 4) { if (bd.bool(128) == 1) refLfDeltas(i) = bd.signedLiteral(6); i += 1 }
        i = 0
        while (i < 4) { if (bd.bool(128) == 1) modeLfDeltas(i) = bd.signedLiteral(6); i += 1 }
      }
    }

    // token partitions (§9.5)
    val nParts = 1 << bd.literal(2)
    val partStart = part0 + firstPartSize
    val sizesEnd = partStart + 3 * (nParts - 1)
    // A corrupt/oversized firstPartSize can push the 3-byte partition-size
    // table past the chunk; the sizes live between partition 0 and the
    // token data, so they must fit inside [partStart, end).
    require(sizesEnd <= end && sizesEnd <= data.length,
      s"VP8 token-partition size table out of bounds ($sizesEnd > $end)")
    val partBounds = new Array[(Int, Int)](nParts)
    var cursor = sizesEnd
    var pi = 0
    while (pi < nParts) {
      val sz =
        if (pi == nParts - 1) end - cursor
        else (data(partStart + 3 * pi) & 0xFF) |
          ((data(partStart + 3 * pi + 1) & 0xFF) << 8) |
          ((data(partStart + 3 * pi + 2) & 0xFF) << 16)
      partBounds(pi) = (cursor, cursor + sz)
      cursor += sz
      pi += 1
    }
    val tokenBd = partBounds.map { case (s, e) => new BoolDecoder(data, s, e) }

    // quantizer header (§9.6)
    val yAcQi = bd.literal(7)
    val yDcDelta = bd.flagged(4)
    val y2DcDelta = bd.flagged(4)
    val y2AcDelta = bd.flagged(4)
    val uvDcDelta = bd.flagged(4)
    val uvAcDelta = bd.flagged(4)

    // per-segment dequant factors (§14.1)
    val dq = Array.tabulate(4) { s =>
      val base =
        if (!segEnabled) yAcQi
        else if (segAbsolute) segQuant(s)
        else yAcQi + segQuant(s)
      val q = clampQ(base)
      val y1dc = Vp8Tables.DcQLookup(clampQ(q + yDcDelta))
      val y1ac = Vp8Tables.AcQLookup(q)
      val y2dc = Vp8Tables.DcQLookup(clampQ(q + y2DcDelta)) * 2
      val y2ac = math.max(8, Vp8Tables.AcQLookup(clampQ(q + y2AcDelta)) * 155 / 100)
      val uvdc = Vp8Tables.DcQLookup(clampQ(q + uvDcDelta, 117)) // value ≤ 132
      val uvac = Vp8Tables.AcQLookup(clampQ(q + uvAcDelta))
      Array(y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
    }

    bd.literal(1) // refresh_entropy_probs (no effect on a still frame)

    // coefficient probability updates (§13.4)
    val coeffProbs = CoeffProbsDefault.clone()
    var ci = 0
    while (ci < 4 * 8 * 3 * 11) {
      if (bd.bool(CoeffUpdate(ci)) == 1) coeffProbs(ci) = bd.literal(8)
      ci += 1
    }

    val mbNoSkip = bd.bool(128) == 1
    val skipProb = if (mbNoSkip) bd.literal(8) else 0

    // --- per-MB mode records for the whole frame (§11) ---
    val mbs = Array.fill(mbW * mbH)(new MbInfo)
    val bModes = new Array[Byte](mbW * mbH * 16) // 4x4 modes, raster in MB
    val uvModes = new Array[Byte](mbW * mbH)
    val aboveB = new Array[Byte](mbW * 4) // b-mode ctx row (B_DC outside)
    var mbY = 0
    while (mbY < mbH) {
      val leftB = new Array[Byte](4)
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        if (segUpdateMap)
          mb.segment = bd.tree(SegmentTree, segTreeProbs)
        if (mbNoSkip) mb.skip = bd.bool(skipProb) == 1
        mb.yMode = bd.tree(KfYModeTree, KfYModeProb)
        val base = (mbY * mbW + mbX) * 16
        if (mb.yMode == BPred) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above = if (sy > 0) bModes(base + sb - 4) else aboveB(mbX * 4 + sx)
            val left = if (sx > 0) bModes(base + sb - 1) else leftB(sy)
            val m = bd.tree(BModeTree, KfBMode,
              probOff = ((above & 0xFF) * 10 + (left & 0xFF)) * 9)
            bModes(base + sb) = m.toByte
            sb += 1
          }
        } else {
          val implied = ImpliedBMode(mb.yMode).toByte
          java.util.Arrays.fill(bModes, base, base + 16, implied)
        }
        // update contexts from the bottom row / right column
        var k = 0
        while (k < 4) {
          aboveB(mbX * 4 + k) = bModes(base + 12 + k)
          leftB(k) = bModes(base + k * 4 + 3)
          k += 1
        }
        uvModes(mbY * mbW + mbX) = bd.tree(UvModeTree, KfUvModeProb).toByte
        mbX += 1
      }
      mbY += 1
    }

    // --- reconstruction (unfiltered; the loop filter runs afterwards and
    //     intra prediction never reads filtered pixels — libwebp saves
    //     pre-filter boundaries for exactly this reason) ---
    val yStride = mbW * 16
    val uvStride = mbW * 8
    val Y = new Array[Int](yStride * mbH * 16)
    val U = new Array[Int](uvStride * mbH * 8)
    val V = new Array[Int](uvStride * mbH * 8)

    // nonzero contexts for token decoding: above per MB column, left per MB
    val aboveNzY = new Array[Boolean](mbW * 4)
    val aboveNzU = new Array[Boolean](mbW * 2)
    val aboveNzV = new Array[Boolean](mbW * 2)
    val aboveNzY2 = new Array[Boolean](mbW)
    val coeffs = new Array[Int](25 * 16) // 16 Y + 4 U + 4 V + Y2 at 24*16

    mbY = 0
    while (mbY < mbH) {
      val td = tokenBd(mbY % nParts)
      val leftNzY = new Array[Boolean](4)
      val leftNzU = new Array[Boolean](2)
      val leftNzV = new Array[Boolean](2)
      var leftNzY2 = false
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        val hasY2 = mb.yMode != BPred
        java.util.Arrays.fill(coeffs, 0)
        var any = false

        if (mb.skip) {
          java.util.Arrays.fill(leftNzY, false)
          java.util.Arrays.fill(leftNzU, false)
          java.util.Arrays.fill(leftNzV, false)
          var k = 0
          while (k < 4) { aboveNzY(mbX * 4 + k) = false; k += 1 }
          k = 0
          while (k < 2) {
            aboveNzU(mbX * 2 + k) = false; aboveNzV(mbX * 2 + k) = false; k += 1
          }
          if (hasY2) { leftNzY2 = false; aboveNzY2(mbX) = false }
        } else {
          val q = dq(mb.segment)

          /** Decode one 4×4 block's tokens (§13.3); returns hasNonzero. */
          def block(planeType: Int, out: Int, first: Int, ctx0: Int,
              dcQ: Int, acQ: Int): Boolean = {
            var ctx = ctx0
            var c = first
            var nz = false
            var skipEob = false
            val planeOff = planeType * 8 * 3 * 11
            var done = false
            while (!done && c < 16) {
              val probOff = planeOff + (CoeffBands(c) * 3 + ctx) * 11
              val tok = td.tree(CoeffTree, coeffProbs, probOff,
                startAt = if (skipEob) 2 else 0)
              if (tok == 11) done = true // EOB
              else if (tok == 0) { skipEob = true; ctx = 0; c += 1 }
              else {
                skipEob = false
                var v =
                  if (tok <= 4) tok
                  else {
                    val cat = tok - 5
                    val probs = CatProbs(cat)
                    var extra = 0
                    var b = 0
                    while (b < probs.length) {
                      extra = (extra << 1) | td.bool(probs(b)); b += 1
                    }
                    CatBase(cat) + extra
                  }
                ctx = if (v == 1) 1 else 2
                if (td.bool(128) == 1) v = -v
                val pos = Zigzag(c)
                coeffs(out + pos) = v * (if (pos == 0) dcQ else acQ)
                nz = true
                c += 1
              }
            }
            nz
          }

          if (hasY2) {
            val ctx = (if (leftNzY2) 1 else 0) + (if (aboveNzY2(mbX)) 1 else 0)
            val nz = block(1, 24 * 16, 0, ctx, q(2), q(3))
            leftNzY2 = nz; aboveNzY2(mbX) = nz
            if (nz) any = true
          }
          val yPlane = if (hasY2) 0 else 3
          val yFirst = if (hasY2) 1 else 0
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val ctx = (if (leftNzY(sy)) 1 else 0) + (if (aboveNzY(mbX * 4 + sx)) 1 else 0)
            val nz = block(yPlane, sb * 16, yFirst, ctx, q(0), q(1))
            leftNzY(sy) = nz; aboveNzY(mbX * 4 + sx) = nz
            if (nz) any = true
            sb += 1
          }
          var cb = 0
          while (cb < 4) {
            val sx = cb & 1; val sy = cb >> 1
            val ctx = (if (leftNzU(sy)) 1 else 0) + (if (aboveNzU(mbX * 2 + sx)) 1 else 0)
            val nz = block(2, (16 + cb) * 16, 0, ctx, q(4), q(5))
            leftNzU(sy) = nz; aboveNzU(mbX * 2 + sx) = nz
            if (nz) any = true
            cb += 1
          }
          cb = 0
          while (cb < 4) {
            val sx = cb & 1; val sy = cb >> 1
            val ctx = (if (leftNzV(sy)) 1 else 0) + (if (aboveNzV(mbX * 2 + sx)) 1 else 0)
            val nz = block(2, (20 + cb) * 16, 0, ctx, q(4), q(5))
            leftNzV(sy) = nz; aboveNzV(mbX * 2 + sx) = nz
            if (nz) any = true
            cb += 1
          }

          if (hasY2) {
            // inverse WHT scatters the 16 luma DCs (§14.3)
            iwht4x4(coeffs, 24 * 16)
            var i = 0
            while (i < 16) { coeffs(i * 16) = coeffs(24 * 16 + i); i += 1 }
          }
        }
        mb.hasCoeffs = any

        reconstructMb(mb, mbX, mbY, mbW, mbH,
          bModes, uvModes(mbY * mbW + mbX), coeffs, Y, U, V, yStride, uvStride)
        mbX += 1
      }
      mbY += 1
    }

    // --- loop filter (§15) ---
    if (filterLevel > 0) {
      mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          val mb = mbs(mbY * mbW + mbX)
          var level =
            if (!segEnabled) filterLevel
            else if (segAbsolute) segFilter(mb.segment)
            else clampQ(filterLevel + segFilter(mb.segment), 63)
          if (segEnabled && segAbsolute) level = clampQ(level, 63)
          if (lfDeltaEnabled) {
            level += refLfDeltas(0) // keyframe MBs reference INTRA_FRAME
            if (mb.yMode == BPred) level += modeLfDeltas(0)
            level = clampQ(level, 63)
          }
          if (level > 0) {
            var interior = level
            if (sharpness > 0) {
              interior >>= (if (sharpness > 4) 2 else 1)
              if (interior > 9 - sharpness) interior = 9 - sharpness
            }
            if (interior < 1) interior = 1
            val hev =
              if (level >= 40) 2
              else if (level >= 15) 1
              else 0
            val mbLimit = (level + 2) * 2 + interior
            val sbLimit = level * 2 + interior
            val inner = mb.hasCoeffs || mb.yMode == BPred
            if (simpleFilter)
              filterMbSimple(Y, yStride, mbX, mbY, mbLimit, sbLimit, inner)
            else
              filterMbNormal(Y, U, V, yStride, uvStride, mbX, mbY,
                mbLimit, sbLimit, interior, hev, inner)
          }
          mbX += 1
        }
        mbY += 1
      }
    }

    Frame(width, height, mbW, mbH, Y, U, V)
  }

  // ------------------------------------------------------------ transforms

  /** Inverse 4×4 Walsh-Hadamard (§14.3), in place at `off`. */
  private[raquet] def iwht4x4(b: Array[Int], off: Int): Unit = {
    var i = 0
    while (i < 4) {
      val a1 = b(off + i) + b(off + 12 + i)
      val b1 = b(off + 4 + i) + b(off + 8 + i)
      val c1 = b(off + 4 + i) - b(off + 8 + i)
      val d1 = b(off + i) - b(off + 12 + i)
      b(off + i) = a1 + b1
      b(off + 4 + i) = c1 + d1
      b(off + 8 + i) = a1 - b1
      b(off + 12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = off + i * 4
      val a1 = b(r) + b(r + 3)
      val b1 = b(r + 1) + b(r + 2)
      val c1 = b(r + 1) - b(r + 2)
      val d1 = b(r) - b(r + 3)
      b(r) = (a1 + b1 + 3) >> 3
      b(r + 1) = (c1 + d1 + 3) >> 3
      b(r + 2) = (a1 - b1 + 3) >> 3
      b(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  /** Inverse 4×4 DCT (§14.4), adding into `dst` with clamping. */
  private[raquet] def idct4x4Add(c: Array[Int], off: Int,
      dst: Array[Int], dOff: Int, stride: Int): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = c(off + i) + c(off + 8 + i)
      val b1 = c(off + i) - c(off + 8 + i)
      val t1 = (c(off + 4 + i) * 35468) >> 16
      val t2 = c(off + 12 + i) + ((c(off + 12 + i) * 20091) >> 16)
      val c1 = t1 - t2
      val t3 = c(off + 4 + i) + ((c(off + 4 + i) * 20091) >> 16)
      val t4 = (c(off + 12 + i) * 35468) >> 16
      val d1 = t3 + t4
      tmp(i) = a1 + d1
      tmp(12 + i) = a1 - d1
      tmp(4 + i) = b1 + c1
      tmp(8 + i) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = i * 4
      val a1 = tmp(r) + tmp(r + 2)
      val b1 = tmp(r) - tmp(r + 2)
      val t1 = (tmp(r + 1) * 35468) >> 16
      val t2 = tmp(r + 3) + ((tmp(r + 3) * 20091) >> 16)
      val c1 = t1 - t2
      val t3 = tmp(r + 1) + ((tmp(r + 1) * 20091) >> 16)
      val t4 = (tmp(r + 3) * 35468) >> 16
      val d1 = t3 + t4
      val p = dOff + i * stride
      dst(p) = clamp255(dst(p) + ((a1 + d1 + 4) >> 3))
      dst(p + 3) = clamp255(dst(p + 3) + ((a1 - d1 + 4) >> 3))
      dst(p + 1) = clamp255(dst(p + 1) + ((b1 + c1 + 4) >> 3))
      dst(p + 2) = clamp255(dst(p + 2) + ((b1 - c1 + 4) >> 3))
      i += 1
    }
  }

  // ------------------------------------------------------------ prediction

  /** Whole-MB reconstruction: intra predict + residual add (§12, §14). */
  private def reconstructMb(mb: MbInfo, mbX: Int, mbY: Int, mbW: Int, mbH: Int,
      bModes: Array[Byte], uvMode: Byte, coeffs: Array[Int],
      Y: Array[Int], U: Array[Int], V: Array[Int],
      yStride: Int, uvStride: Int): Unit = {
    val yOff = mbY * 16 * yStride + mbX * 16
    val uvOff = mbY * 8 * uvStride + mbX * 8

    if (mb.yMode == BPred) {
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        predictB(Y, yStride, yOff + sy * 4 * yStride + sx * 4,
          bModes((mbY * mbW + mbX) * 16 + sb),
          mbX * 4 + sx, mbY * 4 + sy, mbW * 4)
        idct4x4Add(coeffs, sb * 16, Y, yOff + sy * 4 * yStride + sx * 4, yStride)
        sb += 1
      }
    } else {
      predict16(Y, yStride, yOff, mb.yMode, mbX, mbY)
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        idct4x4Add(coeffs, sb * 16, Y, yOff + sy * 4 * yStride + sx * 4, yStride)
        sb += 1
      }
    }
    predict8(U, uvStride, uvOff, uvMode, mbX, mbY)
    predict8(V, uvStride, uvOff, uvMode, mbX, mbY)
    var cb = 0
    while (cb < 4) {
      val sx = cb & 1; val sy = cb >> 1
      idct4x4Add(coeffs, (16 + cb) * 16, U, uvOff + sy * 4 * uvStride + sx * 4, uvStride)
      idct4x4Add(coeffs, (20 + cb) * 16, V, uvOff + sy * 4 * uvStride + sx * 4, uvStride)
      cb += 1
    }
  }

  /** Border conventions (§12.2 / libwebp frame.c): above row outside the
    * frame is 127, left column outside is 129, above-left is 129 except 127
    * on the top row. */
  private def above(p: Array[Int], stride: Int, off: Int, i: Int, atTop: Boolean): Int =
    if (atTop) 127 else p(off - stride + i)
  private def left(p: Array[Int], stride: Int, off: Int, j: Int, atLeft: Boolean): Int =
    if (atLeft) 129 else p(off + j * stride - 1)
  private def aboveLeft(p: Array[Int], stride: Int, off: Int,
      atTop: Boolean, atLeft: Boolean): Int =
    if (atTop) 127 else if (atLeft) 129 else p(off - stride - 1)

  private[raquet] def predictBlock(p: Array[Int], stride: Int, off: Int, n: Int,
      mode: Int, atTop: Boolean, atLeft: Boolean): Unit = {
    mode match {
      case 0 => // DC
        var sum = 0; var shift = 0
        if (!atTop) { var i = 0; while (i < n) { sum += p(off - stride + i); i += 1 }; shift += 1 }
        if (!atLeft) { var j = 0; while (j < n) { sum += p(off + j * stride - 1); j += 1 }; shift += 1 }
        val dc =
          if (shift == 0) 128
          else {
            val count = n * shift
            (sum + count / 2) / count
          }
        var j = 0
        while (j < n) {
          var i = 0
          while (i < n) { p(off + j * stride + i) = dc; i += 1 }
          j += 1
        }
      case 1 => // V
        var j = 0
        while (j < n) {
          var i = 0
          while (i < n) {
            p(off + j * stride + i) = above(p, stride, off, i, atTop); i += 1
          }
          j += 1
        }
      case 2 => // H
        var j = 0
        while (j < n) {
          val l = left(p, stride, off, j, atLeft)
          var i = 0
          while (i < n) { p(off + j * stride + i) = l; i += 1 }
          j += 1
        }
      case 3 => // TM
        val al = aboveLeft(p, stride, off, atTop, atLeft)
        var j = 0
        while (j < n) {
          val l = left(p, stride, off, j, atLeft)
          var i = 0
          while (i < n) {
            p(off + j * stride + i) = clamp255(l + above(p, stride, off, i, atTop) - al)
            i += 1
          }
          j += 1
        }
    }
  }

  private[raquet] def predict16(Y: Array[Int], stride: Int, off: Int, mode: Int,
      mbX: Int, mbY: Int): Unit =
    predictBlock(Y, stride, off, 16, mode, mbY == 0, mbX == 0)

  private[raquet] def predict8(p: Array[Int], stride: Int, off: Int, mode: Int,
      mbX: Int, mbY: Int): Unit =
    predictBlock(p, stride, off, 8, mode, mbY == 0, mbX == 0)

  /** 4×4 intra predictors (§12.3). `bx`, `by` are subblock coordinates on
    * the frame's 4×4 grid; `bw` the grid width. */
  private[raquet] def predictB(Y: Array[Int], stride: Int, off: Int, mode: Int,
      bx: Int, by: Int, bw: Int): Unit = {
    val atTop = by == 0
    val atLeft = bx == 0
    // gather the 13 context pixels: L[0..3], AL, A[0..3], AR[0..3]
    val L = new Array[Int](4)
    var j = 0
    while (j < 4) {
      L(j) = if (atLeft) 129 else Y(off + j * stride - 1); j += 1
    }
    val AL =
      if (atTop) 127 else if (atLeft) 129 else Y(off - stride - 1)
    val A = new Array[Int](8) // A[0..3] above, A[4..7] above-right
    var i = 0
    while (i < 4) {
      A(i) = if (atTop) 127 else Y(off - stride + i); i += 1
    }
    // above-right: from the row above; right-edge subblocks of a MB that are
    // not on its top row take the MB's top-right (subblock 3's above-right);
    // beyond the frame's right edge the last above pixel repeats (libwebp
    // replicates top[15] into the top-right of the last MB column)
    // Above-right: right-column subblocks (sx=3) always take it from the row
    // above the MACROBLOCK (the per-MB saved top-right); the last MB column
    // replicates the pixel above its column 15 (libwebp frame.c semantics).
    val mbSubX = bx & 3
    val lastMbCol = (bx >> 2) == (bw >> 2) - 1
    i = 0
    while (i < 4) {
      A(4 + i) =
        if (atTop) 127
        else if (mbSubX == 3) {
          if ((by >> 2) == 0) 127 // row above the MB is outside the frame
          else {
            val topRow = (by & ~3) * 4 * stride - stride
            val col = if (lastMbCol) bx * 4 + 3 else (bx + 1) * 4 + i
            Y(topRow + col)
          }
        } else Y(off - stride + 4 + i)
      i += 1
    }

    val out = new Array[Int](16)
    def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
    def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1

    mode match {
      case 0 => // B_DC
        var sum = 4
        var k = 0
        while (k < 4) { sum += A(k) + L(k); k += 1 }
        val dc = sum >> 3
        k = 0
        while (k < 16) { out(k) = dc; k += 1 }
      case 1 => // B_TM
        var y0 = 0
        while (y0 < 4) {
          var x0 = 0
          while (x0 < 4) {
            out(y0 * 4 + x0) = clamp255(L(y0) + A(x0) - AL); x0 += 1
          }
          y0 += 1
        }
      case 2 => // B_VE: 3-tap smoothed vertical
        val t = Array(avg3(AL, A(0), A(1)), avg3(A(0), A(1), A(2)),
          avg3(A(1), A(2), A(3)), avg3(A(2), A(3), A(4)))
        var k = 0
        while (k < 16) { out(k) = t(k & 3); k += 1 }
      case 3 => // B_HE: 3-tap smoothed horizontal
        val t = Array(avg3(AL, L(0), L(1)), avg3(L(0), L(1), L(2)),
          avg3(L(1), L(2), L(3)), avg3(L(2), L(3), L(3)))
        var k = 0
        while (k < 16) { out(k) = t(k >> 2); k += 1 }
      case 6 => // B_LD (down-left)
        out(0) = avg3(A(0), A(1), A(2))
        out(1) = avg3(A(1), A(2), A(3)); out(4) = out(1)
        out(2) = avg3(A(2), A(3), A(4)); out(5) = out(2); out(8) = out(2)
        out(3) = avg3(A(3), A(4), A(5)); out(6) = out(3); out(9) = out(3); out(12) = out(3)
        out(7) = avg3(A(4), A(5), A(6)); out(10) = out(7); out(13) = out(7)
        out(11) = avg3(A(5), A(6), A(7)); out(14) = out(11)
        out(15) = avg3(A(6), A(7), A(7))
      case 4 => // B_RD (down-right)
        out(12) = avg3(L(3), L(2), L(1))
        out(8) = avg3(L(2), L(1), L(0)); out(13) = out(8)
        out(4) = avg3(L(1), L(0), AL); out(9) = out(4); out(14) = out(4)
        out(0) = avg3(L(0), AL, A(0)); out(5) = out(0); out(10) = out(0); out(15) = out(0)
        out(1) = avg3(AL, A(0), A(1)); out(6) = out(1); out(11) = out(1)
        out(2) = avg3(A(0), A(1), A(2)); out(7) = out(2)
        out(3) = avg3(A(1), A(2), A(3))
      case 5 => // B_VR (vertical-right)
        out(12) = avg3(L(2), L(1), L(0))
        out(8) = avg3(L(1), L(0), AL)
        out(4) = avg3(L(0), AL, A(0)); out(13) = out(4)
        out(0) = avg2(AL, A(0)); out(9) = out(0); out(5) = avg3(AL, A(0), A(1)); out(14) = out(5)
        out(1) = avg2(A(0), A(1)); out(10) = out(1); out(6) = avg3(A(0), A(1), A(2)); out(15) = out(6)
        out(2) = avg2(A(1), A(2)); out(11) = out(2); out(7) = avg3(A(1), A(2), A(3))
        out(3) = avg2(A(2), A(3))
      case 7 => // B_VL (vertical-left)
        out(0) = avg2(A(0), A(1))
        out(4) = avg3(A(0), A(1), A(2))
        out(1) = avg2(A(1), A(2)); out(8) = out(1)
        out(5) = avg3(A(1), A(2), A(3)); out(12) = out(5)
        out(2) = avg2(A(2), A(3)); out(9) = out(2)
        out(6) = avg3(A(2), A(3), A(4)); out(13) = out(6)
        out(3) = avg2(A(3), A(4)); out(10) = out(3)
        out(7) = avg3(A(3), A(4), A(5)); out(14) = out(7)
        out(11) = avg3(A(4), A(5), A(6))
        out(15) = avg3(A(5), A(6), A(7))
      case 8 => // B_HD (horizontal-down)
        out(12) = avg2(L(3), L(2))
        out(13) = avg3(L(3), L(2), L(1))
        out(8) = avg2(L(2), L(1)); out(14) = out(8)
        out(9) = avg3(L(2), L(1), L(0)); out(15) = out(9)
        out(4) = avg2(L(1), L(0)); out(10) = out(4)
        out(5) = avg3(L(1), L(0), AL); out(11) = out(5)
        out(0) = avg2(L(0), AL); out(6) = out(0)
        out(1) = avg3(L(0), AL, A(0)); out(7) = out(1)
        out(2) = avg3(AL, A(0), A(1))
        out(3) = avg3(A(0), A(1), A(2))
      case 9 => // B_HU (horizontal-up)
        out(0) = avg2(L(0), L(1))
        out(1) = avg3(L(0), L(1), L(2))
        out(2) = avg2(L(1), L(2)); out(4) = out(2)
        out(3) = avg3(L(1), L(2), L(3)); out(5) = out(3)
        out(6) = avg2(L(2), L(3)); out(8) = out(6)
        out(7) = avg3(L(2), L(3), L(3)); out(9) = out(7)
        out(10) = L(3); out(11) = L(3)
        out(12) = L(3); out(13) = L(3); out(14) = L(3); out(15) = L(3)
    }
    var y0 = 0
    while (y0 < 4) {
      var x0 = 0
      while (x0 < 4) { Y(off + y0 * stride + x0) = out(y0 * 4 + x0); x0 += 1 }
      y0 += 1
    }
  }

  // ------------------------------------------------------------ loop filter

  private def s8(v: Int): Int = v - 128 // unsigned → signed pixel (§15.3)
  private def u8(v: Int): Int = clamp255(v + 128)
  private def csig(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** `use_outer_taps` common adjustment; mutates 4 pixels via the `get`/
    * `set` closures at offsets -2,-1,0,1 relative to the edge. */
  private final class Edge(p: Array[Int], base: Int, step: Int) {
    def get(i: Int): Int = p(base + i * step)
    def set(i: Int, v: Int): Unit = p(base + i * step) = v
  }

  private def commonAdjust(e: Edge, useOuter: Boolean): Int = {
    val p1 = s8(e.get(-2)); val p0 = s8(e.get(-1))
    val q0 = s8(e.get(0)); val q1 = s8(e.get(1))
    val a = csig((if (useOuter) csig(p1 - q1) else 0) + 3 * (q0 - p0))
    val f = csig(a + 4) >> 3
    val e3 = csig(a + 3) >> 3
    e.set(0, u8(q0 - f))
    e.set(-1, u8(p0 + e3))
    f
  }

  private def hev(e: Edge, thresh: Int): Boolean =
    math.abs(s8(e.get(-2)) - s8(e.get(-1))) > thresh ||
      math.abs(s8(e.get(1)) - s8(e.get(0))) > thresh

  private def normalMask(e: Edge, interior: Int, edgeLimit: Int): Boolean = {
    def a(i: Int, j: Int) = math.abs(s8(e.get(i)) - s8(e.get(j)))
    a(-1, 0) * 2 + a(-2, 1) / 2 <= edgeLimit &&
      a(-4, -3) <= interior && a(-3, -2) <= interior && a(-2, -1) <= interior &&
      a(1, 0) <= interior && a(2, 1) <= interior && a(3, 2) <= interior
  }

  private def subblockFilter(e: Edge, hevT: Int, interior: Int, edgeLimit: Int): Unit = {
    if (normalMask(e, interior, edgeLimit)) {
      val hv = hev(e, hevT)
      val a = (commonAdjust(e, hv) + 1) >> 1
      if (!hv) {
        e.set(1, u8(s8(e.get(1)) - a))
        e.set(-2, u8(s8(e.get(-2)) + a))
      }
    }
  }

  private def mbFilter(e: Edge, hevT: Int, interior: Int, edgeLimit: Int): Unit = {
    if (normalMask(e, interior, edgeLimit)) {
      if (!hev(e, hevT)) {
        val p2 = s8(e.get(-3)); val p1 = s8(e.get(-2)); val p0 = s8(e.get(-1))
        val q0 = s8(e.get(0)); val q1 = s8(e.get(1)); val q2 = s8(e.get(2))
        val w = csig(csig(p1 - q1) + 3 * (q0 - p0))
        var a = (27 * w + 63) >> 7
        e.set(0, u8(q0 - a)); e.set(-1, u8(p0 + a))
        a = (18 * w + 63) >> 7
        e.set(1, u8(q1 - a)); e.set(-2, u8(p1 + a))
        a = (9 * w + 63) >> 7
        e.set(2, u8(q2 - a)); e.set(-3, u8(p2 + a))
      } else commonAdjust(e, useOuter = true)
    }
  }

  private def simpleMask(e: Edge, edgeLimit: Int): Boolean = {
    def a(i: Int, j: Int) = math.abs(s8(e.get(i)) - s8(e.get(j)))
    a(-1, 0) * 2 + a(-2, 1) / 2 <= edgeLimit
  }

  /** Normal loop filter for one MB (§15.2-15.4): left edge, interior
    * vertical, top edge, interior horizontal — luma and chroma. */
  private def filterMbNormal(Y: Array[Int], U: Array[Int], V: Array[Int],
      yStride: Int, uvStride: Int, mbX: Int, mbY: Int,
      mbLimit: Int, sbLimit: Int, interior: Int, hevT: Int,
      innerEdges: Boolean): Unit = {
    val yOff = mbY * 16 * yStride + mbX * 16
    val uvOff = mbY * 8 * uvStride + mbX * 8
    // left MB edge (vertical edge, horizontal filtering)
    if (mbX > 0) {
      var j = 0
      while (j < 16) { mbFilter(new Edge(Y, yOff + j * yStride, 1), hevT, interior, mbLimit); j += 1 }
      j = 0
      while (j < 8) {
        mbFilter(new Edge(U, uvOff + j * uvStride, 1), hevT, interior, mbLimit)
        mbFilter(new Edge(V, uvOff + j * uvStride, 1), hevT, interior, mbLimit)
        j += 1
      }
    }
    if (innerEdges) {
      var x = 4
      while (x < 16) {
        var j = 0
        while (j < 16) {
          subblockFilter(new Edge(Y, yOff + j * yStride + x, 1), hevT, interior, sbLimit)
          j += 1
        }
        x += 4
      }
      var j = 0
      while (j < 8) {
        subblockFilter(new Edge(U, uvOff + j * uvStride + 4, 1), hevT, interior, sbLimit)
        subblockFilter(new Edge(V, uvOff + j * uvStride + 4, 1), hevT, interior, sbLimit)
        j += 1
      }
    }
    // top MB edge (horizontal edge, vertical filtering)
    if (mbY > 0) {
      var i = 0
      while (i < 16) { mbFilter(new Edge(Y, yOff + i, yStride), hevT, interior, mbLimit); i += 1 }
      i = 0
      while (i < 8) {
        mbFilter(new Edge(U, uvOff + i, uvStride), hevT, interior, mbLimit)
        mbFilter(new Edge(V, uvOff + i, uvStride), hevT, interior, mbLimit)
        i += 1
      }
    }
    if (innerEdges) {
      var y = 4
      while (y < 16) {
        var i = 0
        while (i < 16) {
          subblockFilter(new Edge(Y, yOff + y * yStride + i, yStride), hevT, interior, sbLimit)
          i += 1
        }
        y += 4
      }
      var i = 0
      while (i < 8) {
        subblockFilter(new Edge(U, uvOff + 4 * uvStride + i, uvStride), hevT, interior, sbLimit)
        subblockFilter(new Edge(V, uvOff + 4 * uvStride + i, uvStride), hevT, interior, sbLimit)
        i += 1
      }
    }
  }

  /** Simple filter (§15.1): luma only, p0/q0 adjustment. */
  private def filterMbSimple(Y: Array[Int], yStride: Int, mbX: Int, mbY: Int,
      mbLimit: Int, sbLimit: Int, innerEdges: Boolean): Unit = {
    val yOff = mbY * 16 * yStride + mbX * 16
    def run(edge: Int => Edge, n: Int, limit: Int): Unit = {
      var j = 0
      while (j < n) {
        val e = edge(j)
        if (simpleMask(e, limit)) commonAdjust(e, useOuter = true)
        j += 1
      }
    }
    if (mbX > 0) run(j => new Edge(Y, yOff + j * yStride, 1), 16, mbLimit)
    if (innerEdges) {
      var x = 4
      while (x < 16) {
        val xx = x
        run(j => new Edge(Y, yOff + j * yStride + xx, 1), 16, sbLimit)
        x += 4
      }
    }
    if (mbY > 0) run(i => new Edge(Y, yOff + i, yStride), 16, mbLimit)
    if (innerEdges) {
      var y = 4
      while (y < 16) {
        val yy = y
        run(i => new Edge(Y, yOff + yy * yStride + i, yStride), 16, sbLimit)
        y += 4
      }
    }
  }

  // ------------------------------------------------------------ YUV → RGB

  /** libwebp's fixed-point conversion (yuv.h): 14-bit coefficients,
    * YUV_FIX2 = 6. Public libwebp implementation detail, reproduced so the
    * whole pipeline matches WebPDecodeRGB byte-for-byte. */
  private def mulHi(v: Int, coeff: Int): Int = (v * coeff) >> 8
  private def clip8(v: Int): Int =
    if ((v & ~16383) == 0) v >> 6 else if (v < 0) 0 else 255
  def yuvToR(y: Int, v: Int): Int = clip8(mulHi(y, 19077) + mulHi(v, 26149) - 14234)
  def yuvToG(y: Int, u: Int, v: Int): Int =
    clip8(mulHi(y, 19077) - mulHi(u, 6419) - mulHi(v, 13320) + 8708)
  def yuvToB(y: Int, u: Int): Int = clip8(mulHi(y, 19077) + mulHi(u, 33050) - 17685)

  /** Fancy (bilinear) chroma upsampling + RGB conversion, matching
    * libwebp's default still-image path: chroma centers at odd half-pel
    * positions, (9a+3b+3c+d+8)>>4 blending with edge replication. */
  def toRgb(f: Frame): Array[Byte] = {
    val w = f.width; val h = f.height
    val cw = (w + 1) >> 1; val ch = (h + 1) >> 1
    val out = new Array[Byte](w * h * 3)
    var y0 = 0
    while (y0 < h) {
      val cj = y0 >> 1
      val cj2 = {
        val c = if ((y0 & 1) == 1) cj + 1 else cj - 1
        if (c < 0) 0 else if (c >= ch) ch - 1 else c
      }
      var x0 = 0
      while (x0 < w) {
        val ci = x0 >> 1
        val ci2 = {
          val c = if ((x0 & 1) == 1) ci + 1 else ci - 1
          if (c < 0) 0 else if (c >= cw) cw - 1 else c
        }
        val uVal = (9 * f.u(cj * f.uvStride + ci) + 3 * f.u(cj * f.uvStride + ci2) +
          3 * f.u(cj2 * f.uvStride + ci) + f.u(cj2 * f.uvStride + ci2) + 8) >> 4
        val vVal = (9 * f.v(cj * f.uvStride + ci) + 3 * f.v(cj * f.uvStride + ci2) +
          3 * f.v(cj2 * f.uvStride + ci) + f.v(cj2 * f.uvStride + ci2) + 8) >> 4
        val yy = f.y(y0 * f.yStride + x0)
        val o = (y0 * w + x0) * 3
        out(o) = yuvToR(yy, vVal).toByte
        out(o + 1) = yuvToG(yy, uVal, vVal).toByte
        out(o + 2) = yuvToB(yy, uVal).toByte
        x0 += 1
      }
      y0 += 1
    }
    out
  }
}
