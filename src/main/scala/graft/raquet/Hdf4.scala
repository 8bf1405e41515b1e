package graft.raquet

import graft.sources.RandomReader

/** HDF4 (the MODIS / HDF-EOS2 archive container) reader — the last
  * mainstream archive format of the ingest surface. The reference reaches
  * HDF4 through GDAL's generic open (`raquet/raster2raquet.py:950-963`);
  * this engine reads the container directly from the public "HDF
  * Specification and Developer's Guide" (HDF 4.2, The HDF Group):
  *
  *  - DD (data descriptor) blocks: the tag/ref catalog every element
  *    hangs off (spec §2).
  *  - SD scientific datasets: `DFTAG_NDG` groups referencing a dimension
  *    record (`DFTAG_SDD` → rank, dims, `DFTAG_NT` number type) and the
  *    data element (`DFTAG_SD`) (spec §5).
  *  - Vdata/Vgroup annotations (`DFTAG_VH`/`DFTAG_VS`/`DFTAG_VG`): the SD
  *    API stores every attribute as a one-record Vdata of class `Attr0.0`
  *    with a single `VALUES` field, grouped under a `Var0.0` Vgroup per
  *    variable (libhdf4's netCDF-flavored layout); un-grouped `Attr0.0`
  *    Vdatas are global attributes (spec §7-8).
  *  - Special elements (DD tag bit 0x4000): whole-element compression
  *    (`SPECIAL_COMP`: RLE or deflate) and chunking (`SPECIAL_CHUNKED`
  *    with a chunk-table Vdata and per-chunk compressed elements) — the
  *    layouts MODIS land/atmosphere products ship (spec §10). Linked-block
  *    and external elements fail loudly.
  *  - HDF-EOS2 grid georeferencing: the ODL `StructMetadata.0` global
  *    attribute (GridStructure → projection, XDim/YDim, corner points) —
  *    `GCTP_SNSOID` (the MODIS sinusoidal land grid, authalic sphere
  *    R=6371007.181) and `GCTP_GEO` (CMG grids, packed-DMS corners).
  *
  * Scale shape: the driver parses headers + the chunk table once into a
  * serializable [[H4Grid]]; executors read exactly the chunk ranges their
  * window touches in one coalesced [[RandomReader.readRanges]] batch —
  * identical to the [[Hdf5Nc]] netCDF-4 path. Data is big-endian (the
  * HDF4 standard representation; `DFNT_LITEND` variants fail loudly). */
object Hdf4 {

  val Magic: Array[Byte] = Array(0x0E, 0x03, 0x13, 0x01).map(_.toByte)

  // tags (hdf.h, public)
  private[raquet] val TagNull = 1
  private[raquet] val TagLinked = 20
  private[raquet] val TagNT = 106
  private[raquet] val TagSDD = 701
  private[raquet] val TagSD = 702
  private[raquet] val TagNDG = 720
  private[raquet] val TagCompressed = 40
  private[raquet] val TagChunk = 61
  private[raquet] val TagVH = 1962
  private[raquet] val TagVS = 1963
  private[raquet] val TagVG = 1965
  private[raquet] val SpecialBit = 0x4000

  // special-element codes (hfile.h)
  private val SpLinked = 1
  private val SpExt = 2
  private val SpComp = 3
  private val SpChunked = 6

  // compression coders (hcomp.h)
  private[raquet] val CompNone = 0
  private[raquet] val CompRle = 1
  private[raquet] val CompDeflate = 4

  final case class DD(tag: Int, ref: Int, offset: Long, length: Int)

  /** One scientific dataset: dims in file order, DFNT type, data DD. */
  final case class SDS(ref: Int, name: String, dims: Array[Int], dfnt: Int,
      dataTag: Int, dataRef: Int, attrs: Map[String, H4Attr])

  /** A decoded attribute value (from an `Attr0.0` Vdata).
    * `littleEndian` = the Vdata field carried DFNT_LITEND (0x4000). */
  final case class H4Attr(dfnt: Int, count: Int, raw: Array[Byte],
      littleEndian: Boolean = false) {
    def text: Option[String] =
      if (dfnt == 4 || dfnt == 3)
        Some(new String(raw, java.nio.charset.StandardCharsets.US_ASCII)
          .takeWhile(_ != '\u0000'))
      else None
    def num: Option[Double] = {
      val need = dfnt match {
        case 5 | 24 | 25 => 4
        case 6 => 8
        case 20 | 3 | 21 => 1
        case 22 | 23 => 2
        case _ => Int.MaxValue // non-numeric
      }
      if (count < 1 || raw.length < need) None
      else {
        val bb = java.nio.ByteBuffer.wrap(raw).order(
          if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
          else java.nio.ByteOrder.BIG_ENDIAN)
        dfnt match {
          case 5 => Some(bb.getFloat(0).toDouble)
          case 6 => Some(bb.getDouble(0))
          case 20 => Some(raw(0).toDouble)
          case 3 | 21 => Some((raw(0) & 0xFF).toDouble)
          case 22 => Some(bb.getShort(0).toDouble)
          case 23 => Some((bb.getShort(0) & 0xFFFF).toDouble)
          case 24 => Some(bb.getInt(0).toDouble)
          case 25 => Some((bb.getInt(0) & 0xFFFFFFFFL).toDouble)
          case _ => None
        }
      }
    }
  }

  /** DFNT code → engine dtype name + element size. Char types are
    * attribute-only; raster data with them fails loudly at describe. */
  private[raquet] def dtypeOf(path: String, dfnt: Int): (String, Int) = dfnt match {
    case 3 | 21 => ("uint8", 1)
    case 20 => ("int8", 1)
    case 22 => ("int16", 2)
    case 23 => ("uint16", 2)
    case 24 => ("int32", 4)
    case 25 => ("uint32", 4)
    case 5 => ("float32", 4)
    case 6 => ("float64", 8)
    case t if (t & SpecialBit) != 0 => throw new IllegalArgumentException(
      s"$path: little-endian (DFNT_LITEND) HDF4 data is unsupported " +
        "(the HDF4 standard representation is big-endian)")
    case t => throw new IllegalArgumentException(
      s"$path: unsupported HDF4 number type DFNT=$t")
  }

  // --------------------------------------------------------- DD catalog

  // bounds-checked big-endian reads: a truncated structure is a loud,
  // clean failure — never an index error (the ContainerFuzzSpec contract)
  private def u16(b: Array[Byte], at: Int): Int = {
    require(at >= 0 && at + 2 <= b.length, "truncated HDF4 structure")
    ((b(at) & 0xFF) << 8) | (b(at + 1) & 0xFF)
  }
  private def u32(b: Array[Byte], at: Int): Long = {
    require(at >= 0 && at + 4 <= b.length, "truncated HDF4 structure")
    ((b(at) & 0xFFL) << 24) | ((b(at + 1) & 0xFFL) << 16) |
      ((b(at + 2) & 0xFFL) << 8) | (b(at + 3) & 0xFFL)
  }

  /** Walk the DD block chain into one catalog (spec §2: each block is
    * `ndd:int16, next:uint32, ndd × (tag:uint16, ref:uint16, off:uint32,
    * len:uint32)`). */
  private[graft] def readDDs(path: String, rr: RandomReader): Seq[DD] = {
    val head = rr.readAt(0, 4)
    require(java.util.Arrays.equals(head, Magic), s"$path: not an HDF4 file")
    val out = Seq.newBuilder[DD]
    var at = 4L
    var blocks = 0
    while (at != 0) {
      blocks += 1
      require(blocks <= 65536, s"$path: DD block chain loops")
      val hdr = rr.readAt(at, 6)
      val ndd = u16(hdr, 0)
      require(ndd >= 0 && ndd <= 65535, s"$path: implausible DD count $ndd")
      val next = u32(hdr, 2)
      val body = rr.readAt(at + 6, ndd * 12)
      var i = 0
      while (i < ndd) {
        val tag = u16(body, i * 12)
        if (tag != TagNull && tag != 0) {
          val len = u32(body, i * 12 + 8)
          require(len <= (1L << 30), s"$path: implausible DD length $len")
          out += DD(tag, u16(body, i * 12 + 2), u32(body, i * 12 + 4),
            len.toInt)
        }
        i += 1
      }
      at = next
    }
    out.result()
  }

  /** Resolve (tag, ref) accepting the special-bit variant the writer used
    * (libhdf4 keeps the DD under `SPECIAL(tag)` once an element goes
    * special, while groups keep referencing the base tag). */
  private def find(dds: Seq[DD], tag: Int, ref: Int): Option[DD] =
    dds.find(d => d.tag == tag && d.ref == ref)
      .orElse(dds.find(d => d.tag == (tag | SpecialBit) && d.ref == ref))

  // ---------------------------------------------------- element reading

  /** Comp-header view of a SPECIAL_COMP element (spec §10.2: code,
    * version, uncompressed length, data ref, model, coder). */
  private[raquet] final case class CompHeader(uncompLen: Int, dataRef: Int,
      coder: Int, szip: Option[SzipInfo] = None)

  /** HDF4 szip parameters (cszip.c coder info, 20 bytes after the shared
    * comp header: pixels, pixels_per_scanline, options_mask,
    * bits_per_pixel, pixels_per_block). */
  private[graft] final case class SzipInfo(pixels: Long, perScanline: Int,
      mask: Int, bits: Int, perBlock: Int) extends Serializable

  // szip options-mask bits (public szlib.h)
  private[raquet] val SzMaskRaw = 128
  private[raquet] val SzMaskNn = 32
  private[raquet] val SzMaskMsb = 16

  private[raquet] val CompSzip = 5

  private[raquet] def parseCompHeader(path: String, b: Array[Byte]): CompHeader = {
    require(b.length >= 14, s"$path: truncated SPECIAL_COMP header")
    require(u16(b, 0) == SpComp, s"$path: not a SPECIAL_COMP element")
    val version = u16(b, 2)
    require(version == 0, s"$path: SPECIAL_COMP header version $version unsupported")
    val uncomp = u32(b, 4)
    require(uncomp >= 0 && uncomp <= Int.MaxValue,
      s"$path: implausible uncompressed length $uncomp")
    val dataRef = u16(b, 8)
    val model = u16(b, 10)
    require(model == 0, s"$path: compression model $model unsupported (stdio only)")
    val coder = u16(b, 12)
    val szip =
      if (coder != CompSzip) None
      else {
        require(b.length >= 34, s"$path: truncated szip coder info")
        Some(SzipInfo(u32(b, 14), u32(b, 18).toInt, u32(b, 22).toInt,
          u32(b, 26).toInt, u32(b, 30).toInt))
      }
    CompHeader(uncomp.toInt, dataRef, coder, szip)
  }

  /** HDF4 szip payload → raw big-endian sample bytes, through the
    * in-engine CCSDS 121 core ([[Ccsds]] — szip IS the CCSDS Rice coder):
    * nbits = bits_per_pixel, J = pixels_per_block, RSI =
    * pixels_per_scanline / pixels_per_block (references restart per
    * scanline), SZ_NN = the unit-delay preprocessor. Self-consistency is
    * spec-tested (Hdf4Spec round-trips this segmenting against the Ccsds
    * coder both ways), but two wire conventions cannot be pinned without
    * real libsz bytes: the padding of non-block-aligned scanlines and the
    * entropy-coder option interplay — so [[decomp]] keeps szip behind a
    * loud FIXTURE GATE (FIXTURES.md §4) until a vendored MODIS szip SDS
    * lands; enabling is then the -Dgraft.hdf4.szip=on flip. */
  private[graft] def szipDecode(path: String, info: SzipInfo,
      raw: Array[Byte], uncompLen: Int): Array[Byte] = {
    require((info.mask & SzMaskRaw) == 0,
      s"$path: szip raw-mode payloads unsupported")
    // the decode below emits big-endian sample bytes; an LSB-first stream
    // (SZ_MSB_OPTION_MASK clear) would decode to silently byte-swapped
    // samples, so fail loudly instead (r10 ADVICE: guard BEFORE the
    // -Dgraft.hdf4.szip=on fixture gate ever flips on)
    require((info.mask & SzMaskMsb) != 0,
      s"$path: LSB-first szip payloads unsupported (options_mask=${info.mask})")
    require(info.bits >= 1 && info.bits <= 32,
      s"$path: szip bits_per_pixel ${info.bits}")
    require(Set(8, 16, 32, 64).contains(info.perBlock),
      s"$path: szip pixels_per_block ${info.perBlock}")
    require(info.perScanline > 0 &&
      info.perScanline % info.perBlock == 0,
      s"$path: szip scanline ${info.perScanline} is not a whole number of " +
        s"${info.perBlock}-pixel blocks (padding convention unverified)")
    val esz = (info.bits + 7) / 8
    require(esz >= 1 && esz <= 4 && uncompLen % esz == 0,
      s"$path: szip element size $esz vs $uncompLen bytes")
    val n = uncompLen / esz
    val rsi = info.perScanline / info.perBlock
    val flags = if ((info.mask & SzMaskNn) != 0) Ccsds.FlagPreprocess else 0
    val xs = Ccsds.decode(raw, n, info.bits, flags, info.perBlock, rsi, path)
    val out = new Array[Byte](uncompLen)
    var i = 0
    while (i < n) {
      val v = xs(i)
      var b = 0
      while (b < esz) {
        out(i * esz + b) = ((v >>> (8 * (esz - 1 - b))) & 0xFF).toByte
        b += 1
      }
      i += 1
    }
    out
  }

  /** Decode one compressed payload per the coder code. */
  private[raquet] def decomp(path: String, coder: Int, raw: Array[Byte],
      uncompLen: Int, szip: Option[SzipInfo] = None): Array[Byte] = coder match {
    case CompNone =>
      require(raw.length >= uncompLen,
        s"$path: uncompressed element shorter than declared")
      if (raw.length == uncompLen) raw else java.util.Arrays.copyOf(raw, uncompLen)
    case CompRle => rleDecode(path, raw, uncompLen)
    case CompDeflate =>
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(raw)
        val out = new Array[Byte](uncompLen)
        var got = 0
        while (got < uncompLen && !inf.finished()) {
          val n = inf.inflate(out, got, uncompLen - got)
          if (n == 0 && inf.needsInput())
            throw new IllegalArgumentException(
              s"$path: truncated deflate stream in HDF4 element")
          got += n
        }
        require(got == uncompLen,
          s"$path: deflate stream yields $got of $uncompLen bytes")
        out
      } finally inf.end()
    case CompSzip =>
      val info = szip.getOrElse(throw new IllegalArgumentException(
        s"$path: szip payload without its coder parameters"))
      // FIXTURE GATE: the CCSDS-backed decoder below is built and
      // spec-tested self-consistently, but no real libsz wire bytes exist
      // in this sandbox to pin the scanline-padding and option-mask
      // conventions (FIXTURES.md §4). Refuse rather than risk a silently
      // mis-decoded raster; flipping the gate is the one-line enablement
      // once a vendored szip fixture lands.
      if (sys.props.get("graft.hdf4.szip").contains("on"))
        szipDecode(path, info, raw, uncompLen)
      else throw new IllegalArgumentException(
        s"$path: HDF4 szip decoding is fixture-gated (decoder present; " +
          "run with -Dgraft.hdf4.szip=on once a real szip fixture " +
          "validates the wire conventions — FIXTURES.md §4)")
    case c => throw new IllegalArgumentException(
      s"$path: HDF4 compression coder $c unsupported " +
        "(RLE, deflate and gated szip are implemented; nbit/skphuff are not)")
  }

  /** HDF4 byte RLE (crle.c, public): control byte `c < 0x80` = literal run
    * of `c+1` bytes; `c >= 0x80` = the next byte repeated `c-0x80+3` times
    * (RLE_MIN_RUN=3, RLE_MAX_RUN=130). */
  private[graft] def rleDecode(path: String, in: Array[Byte], outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var i = 0; var o = 0
    while (o < outLen) {
      require(i < in.length, s"$path: truncated RLE stream")
      val c = in(i) & 0xFF; i += 1
      if (c < 0x80) {
        val n = c + 1
        require(i + n <= in.length && o + n <= outLen,
          s"$path: RLE literal run overflows")
        System.arraycopy(in, i, out, o, n); i += n; o += n
      } else {
        val n = c - 0x80 + 3
        require(i < in.length && o + n <= outLen, s"$path: RLE run overflows")
        java.util.Arrays.fill(out, o, o + n, in(i)); i += 1; o += n
      }
    }
    out
  }

  private[graft] def rleEncode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    val litBuf = new Array[Byte](128)
    var lit = 0
    def flushLit(): Unit = if (lit > 0) {
      out.write(lit - 1); out.write(litBuf, 0, lit); lit = 0
    }
    while (i < in.length) {
      var run = 1
      while (i + run < in.length && in(i + run) == in(i) && run < 130) run += 1
      if (run >= 3) {
        flushLit()
        out.write(0x80 + (run - 3)); out.write(in(i)); i += run
      } else {
        var r = 0
        while (r < run) {
          litBuf(lit) = in(i); lit += 1; i += 1
          if (lit == 128) flushLit()
          r += 1
        }
      }
    }
    flushLit()
    out.toByteArray
  }

  /** A fully-resolved read plan for one data element, serializable to
    * tasks (offsets are absolute; no DD re-walk on executors). */
  sealed trait H4Data extends Serializable
  /** Raw bytes at `offset` (coder [[CompNone]] = stored verbatim). */
  final case class H4Plain(offset: Long, length: Int, coder: Int,
      uncompLen: Int, szip: Option[SzipInfo] = None) extends H4Data
  /** One chunk: index per dim (file order), payload range, coder. */
  final case class H4ChunkRef(idx: Array[Int], offset: Long, length: Int,
      coder: Int, uncompLen: Int,
      szip: Option[SzipInfo] = None) extends Serializable
  /** One physical byte span of a linked-block element. */
  final case class Span(offset: Long, length: Int) extends Serializable
  /** Element stored as LINKED BLOCKS (spec §10.1): ordered physical spans
    * whose concatenation is the element; `coder`/`uncompLen` as in
    * [[H4Plain]] (a SPECIAL_COMP payload can itself go linked when the
    * writer appends to a compressed element). */
  final case class H4Spans(spans: Array[Span], coder: Int, uncompLen: Int,
      szip: Option[SzipInfo] = None) extends H4Data
  /** Element stored in an EXTERNAL FILE (spec §10.4): raw uncompressed
    * bytes at `offset` in `extPath` (resolved against the main file's
    * directory at describe time, so executors can open it directly). */
  final case class H4Ext(extPath: String, offset: Long, length: Long)
      extends H4Data
  /** `fill`: the NT-encoded fill value stored in the SPECIAL_CHUNKED
    * description record (spec §10.3 fill_val) — what unwritten chunks
    * read as; the `_FillValue` attribute overrides it when present. */
  final case class H4Chunked(chunkDims: Array[Int], chunks: Array[H4ChunkRef],
      fill: Option[Array[Byte]]) extends H4Data

  /** Parse a SPECIAL_LINKED description record (spec §10.1: total length,
    * first-block length, successive-block length, blocks per table, ref of
    * the first block table) and walk the DFTAG_LINKED table chain into the
    * ordered physical spans. Tables hold `next_ref:uint16` then `num_blk`
    * block refs (0 = slot unwritten); each block is a DFTAG_LINKED
    * element whose DD length is authoritative for the (possibly short)
    * last block. */
  private def parseLinked(path: String, rr: RandomReader, dds: Seq[DD],
      head: Array[Byte]): Array[Span] = {
    require(u16(head, 0) == SpLinked, s"$path: not a SPECIAL_LINKED element")
    val total = u32(head, 2)
    require(total >= 0 && total <= (1L << 31),
      s"$path: implausible linked-element length $total")
    val firstLen = u32(head, 6)
    val blkLen = u32(head, 10)
    require(firstLen > 0 && blkLen > 0,
      s"$path: linked-block lengths ($firstLen, $blkLen) must be positive")
    val numBlk = u32(head, 14).toInt
    require(numBlk >= 1 && numBlk <= (1 << 16),
      s"$path: implausible linked-table size $numBlk")
    var tref = u16(head, 18)
    val seen = scala.collection.mutable.Set.empty[Int]
    val spans = Array.newBuilder[Span]
    var remaining = total
    var first = true
    while (tref != 0 && remaining > 0) {
      require(seen.add(tref), s"$path: cyclic linked-block table chain")
      val tdd = find(dds, TagLinked, tref).getOrElse(
        throw new IllegalArgumentException(
          s"$path: missing linked-block table (ref $tref)"))
      val tb = rr.readAt(tdd.offset, tdd.length)
      require(tb.length >= 2 + 2 * numBlk,
        s"$path: linked-block table shorter than $numBlk entries")
      val nextRef = u16(tb, 0)
      var k = 0
      while (k < numBlk && remaining > 0) {
        val bref = u16(tb, 2 + 2 * k)
        require(bref != 0,
          s"$path: linked element declares $total bytes but block slot " +
            s"$k of table $tref is unwritten with $remaining bytes left")
        val bdd = find(dds, TagLinked, bref).getOrElse(
          throw new IllegalArgumentException(
            s"$path: missing linked data block (ref $bref)"))
        val expect = math.min(if (first) firstLen else blkLen, remaining)
        val take = math.min(bdd.length.toLong, expect)
        require(take > 0, s"$path: empty linked data block (ref $bref)")
        spans += Span(bdd.offset, take.toInt)
        remaining -= take
        first = false
        k += 1
      }
      tref = nextRef
    }
    require(remaining == 0,
      s"$path: linked element truncated — $remaining of $total bytes " +
        "have no data block")
    spans.result()
  }

  /** Resolve an external element's file name against the main file's
    * location (libhdf4's default search: the HDF file's own directory). */
  private def resolveExt(path: String, name: String): String = {
    require(name.nonEmpty, s"$path: empty external-element file name")
    if (name.contains("://") || name.startsWith("/")) name
    else {
      val slash = math.max(path.lastIndexOf('/'), path.lastIndexOf('\\'))
      if (slash < 0) name else path.substring(0, slash + 1) + name
    }
  }

  /** Resolve a data element's DD into its read plan: plain, whole-element
    * compressed, chunked, linked-block, or external-file. */
  private[raquet] def resolveData(path: String, rr: RandomReader, dds: Seq[DD],
      tag: Int, ref: Int, dims: Array[Int]): H4Data = {
    val dd = find(dds, tag, ref).getOrElse(throw new IllegalArgumentException(
      s"$path: missing data element (tag $tag, ref $ref)"))
    if ((dd.tag & SpecialBit) == 0) return H4Plain(dd.offset, dd.length, CompNone, dd.length)
    val head = rr.readAt(dd.offset, math.min(dd.length, 4096))
    u16(head, 0) match {
      case SpComp =>
        val h = parseCompHeader(path, head)
        val cdd = find(dds, TagCompressed, h.dataRef)
          .getOrElse(throw new IllegalArgumentException(
            s"$path: missing DFTAG_COMPRESSED payload (ref ${h.dataRef})"))
        if ((cdd.tag & SpecialBit) == 0)
          H4Plain(cdd.offset, cdd.length, h.coder, h.uncompLen, h.szip)
        else {
          // appendable compressed element: the payload itself went linked
          val chead = rr.readAt(cdd.offset, math.min(cdd.length, 4096))
          require(u16(chead, 0) == SpLinked,
            s"$path: special code ${u16(chead, 0)} under a SPECIAL_COMP " +
              "payload unsupported (linked blocks only)")
          H4Spans(parseLinked(path, rr, dds, chead), h.coder, h.uncompLen,
            h.szip)
        }
      case SpChunked =>
        parseChunked(path, rr, dds, head, dims)
      case SpLinked =>
        val spans = parseLinked(path, rr, dds, head)
        val total = spans.map(_.length.toLong).sum
        require(total <= Int.MaxValue, s"$path: linked element too large")
        H4Spans(spans, CompNone, total.toInt)
      case SpExt =>
        // spec §10.4: length, offset in the external file, name length, name
        val len = u32(head, 2)
        val extOff = u32(head, 6)
        val fnLen = u32(head, 10).toInt
        require(fnLen > 0 && fnLen <= 4096 - 14 && 14 + fnLen <= head.length,
          s"$path: implausible external file-name length $fnLen")
        val name = new String(head, 14, fnLen,
          java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != 0.toChar)
        H4Ext(resolveExt(path, name), extOff, len)
      case c => throw new IllegalArgumentException(
        s"$path: unknown HDF4 special-element code $c")
    }
  }

  /** Parse a SPECIAL_CHUNKED header + its chunk-table Vdata (spec §10.3:
    * code, header length, version, flag, total length, chunk size, NT
    * size, table tag/ref, special tag/ref, ndims, per-dim
    * (flag, dim, chunk), fill). The table Vdata records are
    * `origin:int32×ndims` (chunk coordinates), `chk_tag:uint16`,
    * `chk_ref:uint16`; each chunk element is itself plain or
    * SPECIAL_COMP. */
  private def parseChunked(path: String, rr: RandomReader, dds: Seq[DD],
      head: Array[Byte], dims: Array[Int]): H4Chunked = {
    val rank = dims.length
    var p = 2
    p += 4 // sp_tag_head_len
    p += 1 // version
    p += 4 // flag
    p += 4 // elem_tot_length
    p += 4 // chunk_size
    p += 4 // nt_size
    val tblTag = u16(head, p); p += 2
    val tblRef = u16(head, p); p += 2
    p += 4 // sp_tag / sp_ref (unused)
    val ndims = u32(head, p).toInt; p += 4
    require(ndims == rank,
      s"$path: chunked element rank $ndims does not match SDS rank $rank")
    require(ndims >= 1 && ndims <= 8, s"$path: implausible chunk rank $ndims")
    val chunkDims = new Array[Int](ndims)
    var d = 0
    var chunkElems = 1L
    while (d < ndims) {
      p += 4 // per-dim flag
      p += 4 // dim length (the SDD already carries it)
      chunkDims(d) = u32(head, p).toInt; p += 4
      require(chunkDims(d) > 0 && chunkDims(d) <= (1 << 20),
        s"$path: implausible chunk extent ${chunkDims(d)}")
      chunkElems *= chunkDims(d)
      d += 1
    }
    require(chunkElems <= (1L << 26),
      s"$path: implausible chunk volume $chunkElems elements")
    // fill_val_num_bytes + fill_val follow the per-dim triples (spec §10.3):
    // the value absent chunks read as. Parse it here — backfilling only
    // from the _FillValue ATTRIBUTE silently read 0 for sparse files whose
    // fill lives (only) in this header.
    val fillN = u32(head, p).toInt; p += 4
    require(fillN >= 0 && fillN <= 64, s"$path: implausible fill size $fillN")
    val fill =
      if (fillN == 0) None
      else {
        require(p + fillN <= head.length,
          s"$path: chunked header truncated before its fill value")
        Some(java.util.Arrays.copyOfRange(head, p, p + fillN))
      }
    require(tblTag == TagVH, s"$path: chunk table is not a Vdata (tag $tblTag)")
    val vh = readVdata(path, rr, dds, tblRef)
    val originF = vh.fields.indexWhere(_.name == "origin")
    val tagF = vh.fields.indexWhere(_.name == "chk_tag")
    val refF = vh.fields.indexWhere(_.name == "chk_ref")
    require(originF >= 0 && tagF >= 0 && refF >= 0,
      s"$path: chunk table lacks origin/chk_tag/chk_ref fields")
    require(vh.fields(originF).order == ndims,
      s"$path: chunk-table origin order ${vh.fields(originF).order} != rank $ndims")
    // chunk resolution is the hot lookup (one per table record, two DDs
    // per compressed chunk): index the catalog once, O(chunks) total
    val byKey: Map[(Int, Int), DD] =
      dds.iterator.map(d => ((d.tag, d.ref), d)).toMap
    def findFast(tag: Int, ref: Int): Option[DD] =
      byKey.get((tag, ref)).orElse(byKey.get((tag | SpecialBit, ref)))
    val chunks = Array.newBuilder[H4ChunkRef]
    var r = 0
    while (r < vh.nRecords) {
      val rec = vh.record(r)
      val idx = Array.tabulate(ndims)(k =>
        u32(rec, vh.fields(originF).offset + 4 * k).toInt)
      val cTag = u16(rec, vh.fields(tagF).offset)
      val cRef = u16(rec, vh.fields(refF).offset)
      if (cTag != TagNull && !(cTag == 0 && cRef == 0)) {
        val cdd = findFast(cTag, cRef).getOrElse(
          throw new IllegalArgumentException(
            s"$path: missing chunk element (tag $cTag, ref $cRef)"))
        if ((cdd.tag & SpecialBit) == 0)
          chunks += H4ChunkRef(idx, cdd.offset, cdd.length, CompNone, cdd.length)
        else {
          val ch = rr.readAt(cdd.offset, math.min(cdd.length, 64))
          require(u16(ch, 0) == SpComp,
            s"$path: chunk special code ${u16(ch, 0)} unsupported")
          val h = parseCompHeader(path, ch)
          val pdd = findFast(TagCompressed, h.dataRef).getOrElse(
            throw new IllegalArgumentException(
              s"$path: missing compressed chunk payload (ref ${h.dataRef})"))
          chunks += H4ChunkRef(idx, pdd.offset, pdd.length, h.coder,
            h.uncompLen, h.szip)
        }
      }
      r += 1
    }
    // Origin units: the spec describes origins as chunk-array coordinates,
    // but an element-offset convention (origin = chunk index x chunk
    // extent) also exists in the wild. Detect and normalize: if any origin
    // exceeds the chunk count AND every origin is a multiple of its chunk
    // extent, divide — then require all indices in range either way.
    val arr = chunks.result()
    val nChunks = Array.tabulate(ndims)(d =>
      (dims(d) + chunkDims(d) - 1) / chunkDims(d))
    val elementCoords = arr.nonEmpty &&
      arr.exists(c => (0 until ndims).exists(d => c.idx(d) >= nChunks(d))) &&
      arr.forall(c => (0 until ndims).forall(d => c.idx(d) % chunkDims(d) == 0))
    val norm = if (!elementCoords) arr
      else arr.map(c => c.copy(idx =
        Array.tabulate(ndims)(d => c.idx(d) / chunkDims(d))))
    norm.foreach(c => require((0 until ndims).forall(d =>
      c.idx(d) >= 0 && c.idx(d) < nChunks(d)),
      s"$path: chunk origin (${c.idx.mkString(",")}) outside the " +
        s"(${nChunks.mkString(",")}) chunk grid"))
    H4Chunked(chunkDims, norm, fill)
  }

  // ------------------------------------------------------ Vdata/Vgroup

  final case class VField(dfnt: Int, size: Int, offset: Int, order: Int,
      name: String)
  final case class Vdata(ref: Int, name: String, cls: String,
      fields: Seq[VField], nRecords: Int, recSize: Int, data: Array[Byte]) {
    def record(i: Int): Array[Byte] = {
      val b = new Array[Byte](recSize)
      System.arraycopy(data, i * recSize, b, 0, recSize)
      b
    }
  }

  /** Parse a VH descriptor + its VS payload (spec §8: interlace, nvert,
    * ivsize, nfields, per-field type/isize/offset/order, names, name,
    * class, extag/exref, version). */
  private[raquet] def readVdata(path: String, rr: RandomReader, dds: Seq[DD],
      ref: Int): Vdata = {
    val vhDD = find(dds, TagVH, ref).getOrElse(throw new IllegalArgumentException(
      s"$path: missing Vdata header (ref $ref)"))
    val b = rr.readAt(vhDD.offset, vhDD.length)
    var p = 0
    p += 2 // interlace
    val nvert = u32(b, p).toInt; p += 4
    val ivsize = u16(b, p); p += 2
    val nfields = u16(b, p); p += 2
    require(nvert >= 0 && ivsize >= 0 && nfields >= 0 && nfields <= 4096,
      s"$path: implausible Vdata shape")
    val types = new Array[Int](nfields)
    val sizes = new Array[Int](nfields)
    val offs = new Array[Int](nfields)
    val orders = new Array[Int](nfields)
    var i = 0
    while (i < nfields) { types(i) = u16(b, p); p += 2; i += 1 }
    i = 0
    while (i < nfields) { sizes(i) = u16(b, p); p += 2; i += 1 }
    i = 0
    while (i < nfields) { offs(i) = u16(b, p); p += 2; i += 1 }
    i = 0
    while (i < nfields) { orders(i) = u16(b, p); p += 2; i += 1 }
    def str(): String = {
      val n = u16(b, p); p += 2
      require(p + n <= b.length, s"$path: truncated Vdata header string")
      val s = new String(b, p, n, java.nio.charset.StandardCharsets.US_ASCII)
      p += n; s
    }
    val fieldNames = Array.fill(nfields)(str())
    val name = str()
    val cls = str()
    val fields = (0 until nfields).map(k =>
      VField(types(k), sizes(k), offs(k), orders(k), fieldNames(k)))
    val vsDD = find(dds, TagVS, ref).getOrElse(throw new IllegalArgumentException(
      s"$path: Vdata '$name' has no VS payload"))
    val needL = nvert.toLong * ivsize
    require(needL <= (1L << 26),
      s"$path: implausible Vdata '$name' size $needL bytes")
    val need = needL.toInt
    require(vsDD.length >= need,
      s"$path: Vdata '$name' payload ${vsDD.length} < ${need} bytes")
    val data = if (need == 0) Array.emptyByteArray else rr.readAt(vsDD.offset, need)
    Vdata(ref, name, cls, fields, nvert, ivsize, data)
  }

  final case class Vgroup(ref: Int, name: String, cls: String,
      members: Seq[(Int, Int)])

  private[raquet] def readVgroup(path: String, rr: RandomReader, dd: DD): Vgroup = {
    val b = rr.readAt(dd.offset, dd.length)
    var p = 0
    val nelt = u16(b, p); p += 2
    require(nelt >= 0 && 2 + nelt * 4 + 4 <= b.length,
      s"$path: truncated Vgroup (ref ${dd.ref})")
    val tags = Array.tabulate(nelt) { k => u16(b, 2 + 2 * k) }
    val refs = Array.tabulate(nelt) { k => u16(b, 2 + 2 * nelt + 2 * k) }
    p = 2 + 4 * nelt
    val nameLen = u16(b, p); p += 2
    require(p + nameLen <= b.length, s"$path: truncated Vgroup name")
    val name = new String(b, p, nameLen, java.nio.charset.StandardCharsets.US_ASCII)
    p += nameLen
    val clsLen = u16(b, p); p += 2
    require(p + clsLen <= b.length, s"$path: truncated Vgroup class")
    val cls = new String(b, p, clsLen, java.nio.charset.StandardCharsets.US_ASCII)
    Vgroup(dd.ref, name, cls, tags.zip(refs).toSeq)
  }

  /** Decode an `Attr0.0` Vdata into an attribute value: one record, one
    * `VALUES` field whose order is the value count. */
  private def attrOf(v: Vdata): Option[(String, H4Attr)] =
    v.fields.headOption.collect {
      case f if v.cls == "Attr0.0" && v.nRecords >= 1 &&
          f.offset >= 0 && f.offset <= v.data.length =>
        val n = math.max(0, math.min(math.min(f.order * f.size, v.recSize),
          v.data.length - f.offset))
        val raw = new Array[Byte](n)
        System.arraycopy(v.data, f.offset, raw, 0, n)
        (v.name, H4Attr(f.dfnt & ~SpecialBit, f.order, raw,
          littleEndian = (f.dfnt & SpecialBit) != 0))
    }

  // ----------------------------------------------------------- catalog

  /** Everything `describe` needs in one pass: SDSes with their attribute
    * maps, file-global attributes, and `gridNdgs` — HDF-EOS grid Vgroup
    * name → member NDG refs (the class-GRID Vgroup skeleton the EOS
    * library writes), what tells same-named fields in different grids
    * apart (the MOD09GA per-grid QA-field shape). */
  final case class Catalog(dds: Seq[DD], sdses: Seq[SDS],
      globalAttrs: Map[String, H4Attr],
      gridNdgs: Map[String, Set[Int]] = Map.empty)

  def openCatalog(path: String, rr: RandomReader): Catalog = {
    val dds = readDDs(path, rr)
    // Vgroups: var-name + per-var attribute association
    val vgroups = dds.filter(_.tag == TagVG).map(readVgroup(path, rr, _))
    val varGroups = vgroups.filter(_.cls == "Var0.0")
    val attrRefsInVars = varGroups.flatMap(_.members.collect {
      case (TagVH, r) => r
    }).toSet
    val vdatas = dds.filter(_.tag == TagVH).map(d => readVdata(path, rr, dds, d.ref))
    val attrByRef = vdatas.flatMap(v => attrOf(v).map(a => v.ref -> a)).toMap
    val globalAttrs = attrByRef.collect {
      case (ref, (n, a)) if !attrRefsInVars(ref) => n -> a
    }
    // NDG → SDS
    val sdses = dds.filter(_.tag == TagNDG).map { g =>
      val body = rr.readAt(g.offset, g.length)
      val pairs = (0 until g.length / 4).map(k => (u16(body, 4 * k), u16(body, 4 * k + 2)))
      val sddRef = pairs.collectFirst { case (TagSDD, r) => r }
        .getOrElse(throw new IllegalArgumentException(
          s"$path: NDG ${g.ref} lacks a dimension record"))
      val dataRef = pairs.collectFirst { case (TagSD, r) => r }
        .getOrElse(throw new IllegalArgumentException(
          s"$path: NDG ${g.ref} lacks a data element"))
      val sdd = find(dds, TagSDD, sddRef).getOrElse(
        throw new IllegalArgumentException(s"$path: missing SDD $sddRef"))
      val sb = rr.readAt(sdd.offset, sdd.length)
      val rank = u16(sb, 0)
      require(rank >= 1 && rank <= 8, s"$path: implausible SDS rank $rank")
      val dims = Array.tabulate(rank)(k => u32(sb, 2 + 4 * k).toInt)
      val ntRef = u16(sb, 2 + 4 * rank + 2)
      val nt = find(dds, TagNT, ntRef).getOrElse(
        throw new IllegalArgumentException(s"$path: missing NT $ntRef"))
      val ntb = rr.readAt(nt.offset, 4)
      val dfnt = ntb(1) & 0xFF
      // class octet: DFNTF_IEEE (0) / DFNTI_MBO (1) are the big-endian
      // standard representations; DFNTI_IBO / DFNTF_PC (4) mark
      // little-endian SDS data, which would silently byte-swap every
      // sample if decoded big-endian — fail loudly (VAX/Cray likewise)
      val ntClass = ntb(3) & 0xFF
      require(ntClass == 0 || ntClass == 1,
        s"$path: SDS number-type class $ntClass unsupported " +
          "(big-endian standard representations only)")
      val vg = varGroups.find(_.members.contains((TagNDG, g.ref)))
      val name = vg.map(_.name).getOrElse(s"SDS_${g.ref}")
      val attrs: Map[String, H4Attr] = vg.map(_.members.collect {
        case (TagVH, r) if attrByRef.contains(r) => attrByRef(r)
      }.toMap).getOrElse(Map.empty)
      SDS(g.ref, name, dims, dfnt, TagSD, dataRef, attrs)
    }
    // HDF-EOS grid membership: class-GRID Vgroup (named after the grid) →
    // child Vgroups ("Data Fields" etc.) → member NDG refs
    val byRef = vgroups.map(v => v.ref -> v).toMap
    val gridNdgs = vgroups.filter(_.cls == "GRID").map { g =>
      val nested = g.members.collect { case (TagVG, r) => r }
        .flatMap(byRef.get).flatMap(_.members)
      g.name -> (g.members ++ nested).collect { case (TagNDG, r) => r }.toSet
    }.toMap
    Catalog(dds, sdses, globalAttrs, gridNdgs)
  }

  // -------------------------------------------------- HDF-EOS metadata

  /** One HDF-EOS grid parsed from `StructMetadata.0`: projection +
    * geotransform + its data-field names. */
  final case class EosGrid(name: String, xDim: Int, yDim: Int,
      ulx: Double, uly: Double, lrx: Double, lry: Double,
      projection: String, projParams: Array[Double], fields: Seq[String]) {
    def dx: Double = (lrx - ulx) / xDim
    def dy: Double = (lry - uly) / yDim
  }

  /** GCTP ellipsoid from ProjParams(0)/(1) per the public GCTP convention:
    * params(0) = semi-major axis in meters (required here — the datum-code
    * table behind params(0) = 0 is out of scope, fail loudly); params(1) =
    * 0 for a sphere, an eccentricity SQUARED when < 1, else a semi-minor
    * axis in meters. Returns (a, 1/f) with 1/f = +Inf for spheres (the
    * engine-wide convention). */
  private def gctpEllipsoid(path: String, pp: Array[Double]): (Double, Double) = {
    require(pp.length >= 8, s"$path: GCTP ProjParams too short (${pp.length})")
    val a = pp(0)
    require(a > 6.0e6 && a < 7.0e6,
      s"$path: GCTP semi-major axis ${pp(0)} missing or implausible " +
        "(datum-code defaults unsupported — write the axis into ProjParams)")
    val invF = pp(1) match {
      case 0 => Double.PositiveInfinity
      case e2v if e2v > 0 && e2v < 1 =>
        1.0 / (1.0 - math.sqrt(1.0 - e2v)) // from e² to 1/f
      case b if b >= a => Double.PositiveInfinity // b = a: a sphere after all
      case b if b > 6.0e6 => a / (a - b)
      case x => throw new IllegalArgumentException(
        s"$path: GCTP ProjParams(1) = $x is neither 0, an e², nor a " +
          "semi-minor axis")
    }
    (a, invF)
  }

  /** Packed GCTP DMS (±DDDMMMSSS.ss) → decimal degrees. */
  private[graft] def dmsToDeg(v: Double): Double = {
    val sign = if (v < 0) -1.0 else 1.0
    val a = math.abs(v)
    val d = math.floor(a / 1000000.0)
    val m = math.floor((a - d * 1000000.0) / 1000.0)
    val s = a - d * 1000000.0 - m * 1000.0
    sign * (d + m / 60.0 + s / 3600.0)
  }

  /** Parse the ODL GridStructure blocks out of StructMetadata text.
    * Tolerant line-oriented parse: HDF-EOS writes one `KEY=VALUE` per
    * line with tab indentation and space padding. */
  private[graft] def parseStructMetadata(path: String, text: String): Seq[EosGrid] = {
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    val grids = Seq.newBuilder[EosGrid]
    var i = 0
    def kv(l: String): Option[(String, String)] = {
      val e = l.indexOf('=')
      if (e < 0) None else Some((l.take(e).trim, l.drop(e + 1).trim))
    }
    def unq(s: String): String = s.stripPrefix("\"").stripSuffix("\"")
    def nums(s: String): Array[Double] =
      s.stripPrefix("(").stripSuffix(")").split(",").map(_.trim)
        .filter(_.nonEmpty).map(_.toDouble)
    while (i < lines.length) {
      if (lines(i).startsWith("GROUP=GRID_")) {
        var name = ""; var xd = -1; var yd = -1
        var ul: Array[Double] = null; var lr: Array[Double] = null
        var proj = ""; var pp = Array.fill(13)(0.0)
        val fields = Seq.newBuilder[String]
        val end = "END_" + lines(i)
        i += 1
        while (i < lines.length && lines(i) != end) {
          kv(lines(i)).foreach {
            case ("GridName", v) => name = unq(v)
            case ("XDim", v) => if (xd < 0) xd = v.toInt
            case ("YDim", v) => if (yd < 0) yd = v.toInt
            case ("UpperLeftPointMtrs", v) => ul = nums(v)
            case ("LowerRightMtrs", v) => lr = nums(v)
            case ("Projection", v) => proj = v
            case ("ProjParams", v) => pp = nums(v).padTo(13, 0.0)
            case ("DataFieldName", v) => fields += unq(v)
            // the geotransform below assumes the HDF-EOS default grid
            // origin (upper-left); any other corner would silently flip
            // the raster — reject loudly instead
            case ("GridOrigin", v) =>
              require(v == "HDFE_GD_UL",
                s"$path: HDF-EOS GridOrigin $v unsupported (HDFE_GD_UL only)")
            case _ => ()
          }
          i += 1
        }
        require(name.nonEmpty && xd > 0 && yd > 0 && ul != null && lr != null &&
          ul.length >= 2 && lr.length >= 2,
          s"$path: incomplete GRID block in StructMetadata")
        grids += EosGrid(name, xd, yd, ul(0), ul(1), lr(0), lr(1), proj, pp,
          fields.result())
      }
      i += 1
    }
    grids.result()
  }

  /** Concatenate StructMetadata.0, .1, … (HDF-EOS splits past 32000
    * chars) and strip the NUL/space padding. */
  private def structMetadata(cat: Catalog): Option[String] = {
    val parts = Iterator.from(0)
      .map(k => cat.globalAttrs.get(s"StructMetadata.$k"))
      .takeWhile(_.isDefined).flatten.flatMap(_.text).toSeq
    if (parts.isEmpty) None else Some(parts.mkString)
  }

  /** The concatenated StructMetadata text, for the swath reader's parse
    * ([[Hdf4Swath]]) and routing predicates. */
  private[raquet] def structMetadataText(cat: Catalog): Option[String] =
    structMetadata(cat)

  // ----------------------------------------------------------- describe

  /** Serializable grid over one SDS, pluggable into
    * [[NetCdf.convertGrid]] exactly like the netCDF-4 path. */
  final case class H4Grid(
      path: String, width: Int, height: Int, dtype: String, elemSize: Int,
      isFloat: Boolean, signed: Boolean,
      nodata: Option[Double], scale: Option[Double], offset: Option[Double],
      x0: Double, dx: Double, y0: Double, dy: Double,
      data: H4Data, nt: Int,
      timeValues: Array[Double], cfUnits: Option[String], cfCalendar: String,
      proj: graft.geo.Projection) extends NetCdf.NcGridSource {
    def info: GeoTiff.SourceInfo = GeoTiff.SourceInfo(
      path, width, height, bands = 1, dtype, nodata, x0, dx, y0, dy, proj, None)
    def sampler(t: Int, wx: Int, wy: Int, ww: Int, wh: Int): GeoTiff.PixelSampler =
      new H4Sampler(this, t, wx, wy, ww, wh)
  }

  /** Describe the file's primary raster field (the first HDF-EOS data
    * field, or the largest 2-D/3-D SDS of a plain-SD file). */
  def describe(path: String): H4Grid = describe(path, None)

  def describe(path: String, field: Option[String]): H4Grid = {
    val rr = RandomReader(path)
    try describe(path, rr, field) finally rr.close()
  }

  def describe(path: String, rr: RandomReader, field: Option[String]): H4Grid = {
    val cat = openCatalog(path, rr)
    val grids = structMetadata(cat).map(parseStructMetadata(path, _))
      .getOrElse(Seq.empty)

    val (sds, geo) = grids.flatMap(g => g.fields.map(f => (g, f))) match {
      case eosFields if eosFields.nonEmpty =>
        val (g, fname) = field match {
          case Some(f) =>
            // grid-qualified "gridname:fieldname" pins the grid directly;
            // a bare name must be unique ACROSS grids (real MOD09GA ships
            // same-named QA fields per grid — first-match-by-name could
            // silently mis-georeference)
            val qualified = f.split(":", 2) match {
              case Array(gn, fn) if grids.exists(_.name == gn) =>
                Some(eosFields.find(p => p._1.name == gn && p._2 == fn)
                  .getOrElse(throw new IllegalArgumentException(
                    s"$path: grid '$gn' has no data field '$fn' " +
                      s"(have ${grids.find(_.name == gn).get.fields.mkString(", ")})")))
              case _ => None
            }
            qualified.getOrElse {
              val hits = eosFields.filter(_._2 == f)
              if (hits.isEmpty) throw new IllegalArgumentException(
                s"$path: no HDF-EOS data field '$f' (have ${eosFields.map(_._2).mkString(", ")})")
              require(hits.size == 1,
                s"$path: field '$f' exists in ${hits.size} grids " +
                  s"(${hits.map(_._1.name).mkString(", ")}) — qualify it as " +
                  s"'${hits.head._1.name}:$f'")
              hits.head
            }
          case None => eosFields.head
        }
        val candidates = cat.sdses.filter(_.name == fname)
        require(candidates.nonEmpty,
          s"$path: StructMetadata field '$fname' has no SDS")
        // same-named SDSes across grids: resolve through the grid's own
        // Vgroup membership when the file carries the EOS skeleton, else
        // fall back to the grid-dimension backstop — ambiguity fails loudly
        val s = cat.gridNdgs.get(g.name).filter(_.nonEmpty) match {
          case Some(members) =>
            val hits = candidates.filter(c => members(c.ref))
            require(hits.size == 1,
              s"$path: ${hits.size} SDSes named '$fname' under grid " +
                s"'${g.name}''s Vgroup (expected exactly 1)")
            hits.head
          case None =>
            val hits = candidates.filter { c =>
              val (cy, cx) =
                if (c.dims.length == 3) (c.dims(1), c.dims(2))
                else (c.dims(0), c.dims(1))
              cy == g.yDim && cx == g.xDim
            }
            require(hits.size == 1,
              s"$path: ${hits.size} SDSes named '$fname' match grid " +
                s"'${g.name}' (${g.xDim} x ${g.yDim}) and the file has no " +
                "GRID Vgroup skeleton to disambiguate")
            hits.head
        }
        (s, Some(g))
      case _ =>
        val s = field match {
          case Some(f) => cat.sdses.find(_.name == f).getOrElse(
            throw new IllegalArgumentException(s"$path: no SDS named '$f'"))
          case None => cat.sdses.filter(d => d.dims.length == 2 || d.dims.length == 3)
            .sortBy(d => -d.dims.map(_.toLong).product).headOption.getOrElse(
              throw new IllegalArgumentException(s"$path: no 2-D/3-D SDS found"))
        }
        (s, None)
    }
    require(sds.dims.length == 2 || sds.dims.length == 3,
      s"$path: SDS '${sds.name}' rank ${sds.dims.length} is not a raster")
    val (nt, ny, nx) =
      if (sds.dims.length == 3) (sds.dims(0), sds.dims(1), sds.dims(2))
      else (1, sds.dims(0), sds.dims(1))
    require(ny > 0 && nx > 0 && nt > 0, s"$path: empty SDS '${sds.name}'")
    require(ny <= (1 << 20) && nx <= (1 << 20) && nt <= (1 << 20),
      s"$path: implausible SDS extent ($nt, $ny, $nx)")

    val (proj, x0, dx, y0, dy) = geo match {
      case Some(g) =>
        require(g.xDim == nx && g.yDim == ny,
          s"$path: SDS '${sds.name}' ($nx x $ny) does not match grid " +
            s"'${g.name}' (${g.xDim} x ${g.yDim})")
        g.projection match {
          case "GCTP_SNSOID" =>
            val r = if (g.projParams(0) > 0) g.projParams(0) else 6371007.181
            val lon0 = dmsToDeg(g.projParams(4))
            (graft.geo.Sinusoidal(r, 0.0, lon0, g.projParams(6), g.projParams(7)),
              g.ulx, g.dx, g.uly, g.dy)
          case "GCTP_GEO" =>
            // GEO grids pack corner coordinates in GCTP DMS
            val (ulxD, ulyD) = (dmsToDeg(g.ulx), dmsToDeg(g.uly))
            val (lrxD, lryD) = (dmsToDeg(g.lrx), dmsToDeg(g.lry))
            (graft.geo.Geographic, ulxD, (lrxD - ulxD) / nx, ulyD,
              (lryD - ulyD) / ny)
          case "GCTP_PS" =>
            // NSIDC sea-ice / polar product grids: params 4/5 = orientation
            // longitude and latitude of true scale (packed DMS, the sign of
            // lat_ts selecting the hemisphere), 6/7 = false easting/northing
            val (a, invF) = gctpEllipsoid(path, g.projParams)
            val lon0 = dmsToDeg(g.projParams(4))
            val latTs = dmsToDeg(g.projParams(5))
            require(math.abs(latTs) > 0.0 && math.abs(latTs) <= 90.0,
              s"$path: GCTP_PS latitude of true scale $latTs out of range")
            val proj =
              if (math.abs(latTs) >= 89.999999)
                // true at the pole: the variant-A form (k0 = 1); the
                // variant-B ratio m(ts)/t(ts) is 0/0 there
                graft.geo.PolarStereographicA(a, invF, 1.0,
                  north = latTs > 0, lon0, g.projParams(6), g.projParams(7))
              else graft.geo.PolarStereographic(a, invF, latTs, lon0,
                g.projParams(6), g.projParams(7))
            (proj, g.ulx, g.dx, g.uly, g.dy)
          case "GCTP_LAMCC" =>
            // params 2/3 = standard parallels, 4 = central meridian,
            // 5 = origin latitude (all packed DMS), 6/7 = FE/FN
            val (a, invF) = gctpEllipsoid(path, g.projParams)
            (graft.geo.LambertConformalConic(a, invF,
              dmsToDeg(g.projParams(2)), dmsToDeg(g.projParams(3)),
              dmsToDeg(g.projParams(5)), dmsToDeg(g.projParams(4)),
              g.projParams(6), g.projParams(7)),
              g.ulx, g.dx, g.uly, g.dy)
          case "GCTP_ALBERS" =>
            // same parameter layout as LAMCC
            val (a, invF) = gctpEllipsoid(path, g.projParams)
            (graft.geo.AlbersEqualArea(a, invF,
              dmsToDeg(g.projParams(2)), dmsToDeg(g.projParams(3)),
              dmsToDeg(g.projParams(5)), dmsToDeg(g.projParams(4)),
              g.projParams(6), g.projParams(7)),
              g.ulx, g.dx, g.uly, g.dy)
          case p => throw new IllegalArgumentException(
            s"$path: HDF-EOS projection $p unsupported (GCTP_SNSOID, " +
              "GCTP_GEO, GCTP_PS, GCTP_LAMCC and GCTP_ALBERS are implemented)")
        }
      case None =>
        throw new IllegalArgumentException(
          s"$path: no HDF-EOS StructMetadata grid — plain-SD HDF4 files " +
            "without georeferencing are unsupported")
    }

    val (dtype, esz) = dtypeOf(path, sds.dfnt)
    val data = resolveData(path, rr, cat.dds, sds.dataTag, sds.dataRef,
      sds.dims)
    val need = nt.toLong * ny * nx * esz
    data match {
      case H4Plain(_, _, coder, u, _) =>
        require(u >= need, s"$path: SDS '${sds.name}' stores $u of $need bytes")
        // whole-element compression is not seekable — the sampler must
        // materialize the element, so bound it (chunked layouts scale)
        require(coder == CompNone || need <= (1L << 30),
          s"$path: whole-element compressed SDS '${sds.name}' too large " +
            s"($need bytes) — chunked layout required")
      case H4Spans(_, coder, u, _) =>
        require(u >= need, s"$path: SDS '${sds.name}' stores $u of $need bytes")
        require(coder == CompNone || need <= (1L << 30),
          s"$path: whole-element compressed SDS '${sds.name}' too large " +
            s"($need bytes) — chunked layout required")
      case H4Ext(ep, _, len) =>
        require(len >= need,
          s"$path: external element $ep stores $len of $need bytes")
      case _ => ()
    }
    val nodata = sds.attrs.get("_FillValue").flatMap(_.num)
    val scale = sds.attrs.get("scale_factor").flatMap(_.num)
    val offset = sds.attrs.get("add_offset").flatMap(_.num)
    H4Grid(path, nx, ny, dtype, esz,
      isFloat = sds.dfnt == 5 || sds.dfnt == 6,
      signed = sds.dfnt == 20 || sds.dfnt == 22 || sds.dfnt == 24,
      nodata, scale, offset, x0, dx, y0, dy, data, nt,
      Array.tabulate(nt)(_.toDouble), None, "standard", proj)
  }

  /** The first HDF-EOS grid's field list (else all SDS names) — the
    * [[convertFields]] default: one grid = one stackable tile grid. */
  private def firstGridFields(path: String): Seq[String] = {
    val rr = RandomReader(path)
    try {
      val cat = openCatalog(path, rr)
      val grids = cat.globalAttrs.get("StructMetadata.0")
        .flatMap(_ => structMetadata(cat)).map(parseStructMetadata(path, _))
        .getOrElse(Seq.empty)
      grids.headOption.map(_.fields).getOrElse(
        cat.sdses.filter(d => d.dims.length == 2 || d.dims.length == 3)
          .map(_.name))
    } finally rr.close()
  }

  /** List the raster fields the file exposes (HDF-EOS grid field names,
    * else swath data-field names, else SDS names) — the CLI's discovery
    * surface. */
  def fieldNames(path: String): Seq[String] = {
    val rr = RandomReader(path)
    try {
      val cat = openCatalog(path, rr)
      val text = structMetadata(cat)
      val eos = text.map(parseStructMetadata(path, _))
        .getOrElse(Seq.empty).flatMap(_.fields)
      val swath = text.map(Hdf4Swath.parseSwathMetadata(path, _))
        .getOrElse(Seq.empty).flatMap(_.fields)
      if (eos.nonEmpty) eos
      else if (swath.nonEmpty) swath
      else cat.sdses.filter(d => d.dims.length == 2 || d.dims.length == 3).map(_.name)
    } finally rr.close()
  }

  /** Whole-element decode cache: a non-chunked compressed SDS is not
    * seekable, so every window of it needs the full decoded element —
    * share ONE decode per (path, offset) across a JVM's tasks behind a
    * SoftReference (GC evicts under pressure; describe already bounds
    * such elements to 1 GB). Chunked layouts never touch this. */
  private val elemCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      java.lang.ref.SoftReference[Array[Byte]]]()

  private def cachedDecode(path: String, rr: RandomReader, off: Long,
      len: Int, coder: Int, uncompLen: Int,
      szip: Option[SzipInfo]): Array[Byte] = {
    val key = (path, off)
    val hit = Option(elemCache.get(key)).flatMap(r => Option(r.get))
    hit.getOrElse {
      val dec = decomp(path, coder, rr.readAt(off, len), uncompLen, szip)
      elemCache.put(key, new java.lang.ref.SoftReference(dec))
      dec
    }
  }

  /** Whole-element decode of a LINKED compressed payload: concatenate the
    * spans (one coalesced range batch), then decode — cached like
    * [[cachedDecode]], keyed by the first span's offset. */
  private def cachedDecodeSpans(path: String, rr: RandomReader,
      spans: Array[Span], coder: Int, uncompLen: Int,
      szip: Option[SzipInfo]): Array[Byte] = {
    val key = (path, spans(0).offset)
    val hit = Option(elemCache.get(key)).flatMap(r => Option(r.get))
    hit.getOrElse {
      val parts = rr.readRanges(spans.toSeq.map(s => (s.offset, s.length)))
      val rawAll = new Array[Byte](spans.map(_.length).sum)
      var o = 0
      parts.foreach { p =>
        System.arraycopy(p, 0, rawAll, o, p.length); o += p.length
      }
      val dec = decomp(path, coder, rawAll, uncompLen, szip)
      elemCache.put(key, new java.lang.ref.SoftReference(dec))
      dec
    }
  }

  /** Read logical byte ranges of a linked-block element: each logical
    * range splits into the physical sub-ranges its spans cover, ONE
    * coalesced readRanges fetches them all, and the pieces reassemble per
    * original range — request count stays O(ranges), the H4Plain shape. */
  private[raquet] def readLogical(rr: RandomReader, spans: Array[Span],
      ranges: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val starts = new Array[Long](spans.length)
    var acc = 0L
    var i = 0
    while (i < spans.length) { starts(i) = acc; acc += spans(i).length; i += 1 }
    val pieces = Seq.newBuilder[(Long, Int)]
    val cuts = ranges.map { case (lo, n) =>
      require(lo >= 0 && lo + n <= acc,
        s"logical range [$lo, ${lo + n}) outside linked element of $acc bytes")
      var remaining = n
      var pos = lo
      var k = java.util.Arrays.binarySearch(starts, pos)
      if (k < 0) k = -k - 2
      var cnt = 0
      while (remaining > 0) {
        val sp = spans(k)
        val within = (pos - starts(k)).toInt
        val take = math.min(remaining, sp.length - within)
        pieces += ((sp.offset + within, take))
        remaining -= take; pos += take; k += 1; cnt += 1
      }
      cnt
    }
    val raw = rr.readRanges(pieces.result())
    var idx = 0
    ranges.zip(cuts).map { case ((_, n), cnt) =>
      if (cnt == 1) { val r = raw(idx); idx += 1; r }
      else {
        val out = new Array[Byte](n)
        var o = 0
        var c = 0
        while (c < cnt) {
          val b = raw(idx); idx += 1
          System.arraycopy(b, 0, out, o, b.length); o += b.length; c += 1
        }
        out
      }
    }
  }

  /** Bounded window read of one timestep: the [[Hdf5Nc.ChunkSampler]]
    * shape — intersecting chunks fetched in one coalesced range batch,
    * executor memory O(window + intersecting chunks). HDF4 grids are
    * stored north-down, so file row == north-up row. */
  final class H4Sampler(g: H4Grid, t: Int, wx: Int, wy: Int, ww: Int, wh: Int)
      extends GeoTiff.PixelSampler {
    private val sz = g.elemSize
    private val buf = new Array[Byte](ww * wh * sz)

    locally {
      val rr = RandomReader(g.path)
      try {
        g.data match {
          case H4Plain(off, len, coder, uncompLen, szInfo) =>
            val planeBytes = g.height.toLong * g.width * sz
            if (coder == CompNone) {
              // uncompressed: per-row ranges, coalesced by the transport
              val rows = (0 until wh).map { j =>
                (off + t * planeBytes + ((wy + j).toLong * g.width + wx) * sz,
                  ww * sz)
              }
              rr.readRanges(rows).zipWithIndex.foreach { case (b, j) =>
                System.arraycopy(b, 0, buf, j * ww * sz, ww * sz)
              }
            } else {
              // whole-element compression is not seekable: decode the
              // element once PER JVM (soft-cached), copy the window
              // (HDF4's own constraint — chunked files avoid this path;
              // describe bounds the size)
              val need = (g.nt.toLong * planeBytes).toInt
              val dec = cachedDecode(g.path, rr, off, len,
                coder, math.min(uncompLen, need), szInfo)
              var j = 0
              while (j < wh) {
                System.arraycopy(dec,
                  (t * planeBytes + ((wy + j).toLong * g.width + wx) * sz).toInt,
                  buf, j * ww * sz, ww * sz)
                j += 1
              }
            }
          case H4Spans(spans, coder, uncompLen, szInfo) =>
            val planeBytes = g.height.toLong * g.width * sz
            if (coder == CompNone) {
              // uncompressed linked blocks: the H4Plain per-row shape, with
              // logical offsets mapped through the span table
              val rows = (0 until wh).map { j =>
                (t * planeBytes + ((wy + j).toLong * g.width + wx) * sz,
                  ww * sz)
              }
              readLogical(rr, spans, rows).zipWithIndex.foreach { case (b, j) =>
                System.arraycopy(b, 0, buf, j * ww * sz, ww * sz)
              }
            } else {
              // linked COMPRESSED payload: whole-element decode, soft-cached
              val need = (g.nt.toLong * planeBytes).toInt
              val dec = cachedDecodeSpans(g.path, rr, spans, coder,
                math.min(uncompLen, need), szInfo)
              var j = 0
              while (j < wh) {
                System.arraycopy(dec,
                  (t * planeBytes + ((wy + j).toLong * g.width + wx) * sz).toInt,
                  buf, j * ww * sz, ww * sz)
                j += 1
              }
            }
          case H4Ext(ep, off, _) =>
            // external file: raw uncompressed bytes — same per-row ranges,
            // read from the companion file (resolved at describe time)
            val planeBytes = g.height.toLong * g.width * sz
            val err = RandomReader(ep)
            try {
              val rows = (0 until wh).map { j =>
                (off + t * planeBytes + ((wy + j).toLong * g.width + wx) * sz,
                  ww * sz)
              }
              err.readRanges(rows).zipWithIndex.foreach { case (b, j) =>
                System.arraycopy(b, 0, buf, j * ww * sz, ww * sz)
              }
            } finally err.close()
          case H4Chunked(cd, chunks, hdrFill) =>
            // _FillValue attribute overrides the chunked-header fill; the
            // header fill bytes are already NT-encoded straight from the
            // file, so they prefill verbatim
            val fillBytes = g.nodata.map(encodeOne)
              .orElse(hdrFill.filter(_.length == sz))
            fillBytes.foreach { one =>
              var k = 0
              while (k < buf.length) { buf(k) = one(k % sz); k += 1 }
            }
            val (ct, cy, cx) = cd.length match {
              case 3 => (cd(0), cd(1), cd(2))
              case 2 => (1, cd(0), cd(1))
              case r => throw new IllegalArgumentException(
                s"${g.path}: chunk rank $r unsupported")
            }
            val cy0 = wy / cy; val cy1 = (wy + wh - 1) / cy
            val cx0 = wx / cx; val cx1 = (wx + ww - 1) / cx
            val wanted = chunks.filter { c =>
              val (ti, yi, xi) =
                if (cd.length == 3) (c.idx(0), c.idx(1), c.idx(2))
                else (0, c.idx(0), c.idx(1))
              ti * ct <= t && t < (ti + 1) * ct &&
                yi >= cy0 && yi <= cy1 && xi >= cx0 && xi <= cx1
            }
            // sparse file + no fill from either source: the prefill above
            // never ran, so absent chunks would silently read 0 — refuse
            if (fillBytes.isEmpty) {
              val nyC = (g.height + cy - 1) / cy
              val nxC = (g.width + cx - 1) / cx
              val expect = (math.min(cy1, nyC - 1) - cy0 + 1).toLong *
                (math.min(cx1, nxC - 1) - cx0 + 1)
              require(wanted.length >= expect,
                s"${g.path}: window has ${expect - wanted.length} unwritten " +
                  "chunks but the file carries no fill value (neither a " +
                  "_FillValue attribute nor a chunked-header fill) — " +
                  "refusing to silently read zeros")
            }
            val raws = rr.readRanges(wanted.toSeq.map(c => (c.offset, c.length)))
            val chunkBytes = ct * cy * cx * sz
            wanted.zip(raws).foreach { case (c, raw) =>
              require(c.uncompLen >= chunkBytes,
                s"${g.path}: chunk stores ${c.uncompLen} of $chunkBytes bytes")
              val dec = decomp(g.path, c.coder, raw, chunkBytes, c.szip)
              val (yi, xi) =
                if (cd.length == 3) (c.idx(1), c.idx(2)) else (c.idx(0), c.idx(1))
              val tOff = if (cd.length == 3) (t - c.idx(0) * ct) * cy * cx * sz else 0
              val yBase = yi * cy; val xBase = xi * cx
              val r0 = math.max(wy, yBase)
              val r1 = math.min(wy + wh, yBase + cy)
              val c0 = math.max(wx, xBase)
              val c1 = math.min(wx + ww, xBase + cx)
              var r = r0
              while (r < r1) {
                if (c1 > c0)
                  System.arraycopy(dec,
                    tOff + ((r - yBase) * cx + (c0 - xBase)) * sz,
                    buf, ((r - wy) * ww + (c0 - wx)) * sz, (c1 - c0) * sz)
                r += 1
              }
            }
        }
      } finally rr.close()
    }

    private def encodeOne(v: Double): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(sz) // big-endian default
      (g.isFloat, sz) match {
        case (true, 4) => bb.putFloat(v.toFloat)
        case (true, 8) => bb.putDouble(v)
        case (false, 1) => bb.put(v.toByte)
        case (false, 2) => bb.putShort(v.toShort)
        case (false, 4) => bb.putInt(v.toInt)
        case _ => ()
      }
      bb.array()
    }

    private val bb = java.nio.ByteBuffer.wrap(buf) // HDF4 standard: big-endian
    def sample(band: Int, px: Int, py: Int): Double = {
      val k = (py - wy) * ww + (px - wx)
      (g.isFloat, sz, g.signed) match {
        case (true, 4, _) => bb.getFloat(4 * k).toDouble
        case (true, 8, _) => bb.getDouble(8 * k)
        case (false, 1, true) => bb.get(k).toDouble
        case (false, 1, false) => (bb.get(k) & 0xFF).toDouble
        case (false, 2, true) => bb.getShort(2 * k).toDouble
        case (false, 2, false) => (bb.getShort(2 * k) & 0xFFFF).toDouble
        case (false, 4, true) => bb.getInt(4 * k).toDouble
        case _ => (bb.getInt(4 * k) & 0xFFFFFFFFL).toDouble
      }
    }
  }

  /** Convert an HDF4 file's raster field to raquet through the shared
    * grid pipeline (the reference's `raster2raquet.py` GDAL-open parity
    * for `.hdf` inputs). */
  def convert(spark: org.apache.spark.sql.SparkSession, path: String,
      outFile: String, blockZoom: Int = 8, zoomStrategy: String = "auto",
      tileStats: Boolean = false, resampling: String = "near",
      overviews: String = "auto", field: Option[String] = None,
      rowGroupBytes: Long = 0,
      minZoomOverride: Option[Int] = None): RaquetMetadata =
    NetCdf.convertGrid(spark, describe(path, field), outFile, blockZoom,
      zoomStrategy, tileStats, resampling, overviews, minZoomOverride,
      rowGroupBytes)

  /** MODIS multi-field workflow: N data fields of ONE grid (e.g. NDVI +
    * EVI + QA) → one multi-band raquet dataset. Each field runs the
    * distributed grid convert; the bands then meet on a J2 block
    * equi-join ([[BandStack]] — the same final stage as the Sentinel-2
    * granule path). `fields` empty = every field the file declares. */
  def convertFields(spark: org.apache.spark.sql.SparkSession, path: String,
      outFile: String, fields: Seq[String] = Seq.empty, blockZoom: Int = 8,
      zoomStrategy: String = "auto", tileStats: Boolean = false,
      resampling: String = "near", overviews: String = "auto",
      rowGroupBytes: Long = 0,
      minZoomOverride: Option[Int] = None): RaquetMetadata = {
    // default = the FIRST grid's fields only: a multi-grid file (the
    // MOD09GA 500 m + 1 km shape) has incompatible tile grids across
    // grids, and stacking them is never meaningful
    val names = if (fields.nonEmpty) fields else firstGridFields(path)
    require(names.nonEmpty, s"$path: no raster fields")
    val work = java.nio.file.Files.createTempDirectory("hdf4fields").toString
    try {
      val parts = names.zipWithIndex.map { case (f, i) =>
        val dir = s"$work/band_${i + 1}.parquet"
        val m = NetCdf.convertGrid(spark, describe(path, Some(f)), dir,
          blockZoom, zoomStrategy, tileStats, resampling, overviews,
          minZoomOverride, 0)
        (dir, m)
      }
      BandStack.stack(spark, parts, outFile, rowGroupBytes)
    } finally RaquetIO.deleteTree(work)
  }
}
