package graft.raquet

import graft.sources.RandomReader

/** Scoped HDF5 container reader — the ingest layer under netCDF-4
  * ([[Hdf5Nc]]). The reference reads nc4 through GDAL's NetCDF driver
  * (`raster2raquet.py` accepts any GDAL source); graft implements the
  * subset of the public HDF5 File Format Specification (hdfgroup.org,
  * version III) that `libhdf5` writes for netCDF-4 rasters:
  *
  *  - superblock v0 (the netCDF-4 default) and v2/v3 (latest-format)
  *  - version-1 object headers (+ continuations) and version-2 `OHDR`
  *    headers (+ `OCHK` continuations)
  *  - groups as v1 symbol tables (B-tree + SNOD + local heap) and as
  *    compact link messages (the v2 small-group layout)
  *  - dataspace v1/v2, datatype classes 0/1/3 (fixed, float, string),
  *    fill value v1-v3, attributes v1-v3
  *  - data layout v3: compact, contiguous, and chunked via the v1
  *    chunk B-tree; filters deflate (zlib), shuffle, fletcher32
  *
  * Anything outside that scope fails loudly with the feature named.
  * Scale shape: [[open]] walks headers and chunk indexes only —
  * O(header + chunks), never O(data); executors later read exactly the
  * chunk byte ranges their windows touch (through [[RandomReader]], so
  * local, http(s), and public-bucket sources all work).
  *
  * Every structure below cites its section in the spec's terms (names
  * like "Symbol Table Entry" match the spec headings). All integers are
  * little-endian; "O"/"L" are the 8-byte offset/length sizes netCDF-4
  * always uses (asserted at the superblock).
  */
object Hdf5 {

  val Signature: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')

  val Unset: Long = -1L // the spec's "undefined address" (all ones)

  // ----------------------------------------------------------- data model

  /** Datatype: `cls` 0 = fixed-point, 1 = float, 3 = string. */
  final case class H5Type(cls: Int, size: Int, signed: Boolean,
      littleEndian: Boolean) extends Serializable {
    /** raquet dtype name for raster payloads. */
    def dtypeName: String = cls match {
      case 0 => (if (signed) "int" else "uint") + (size * 8)
      case 1 if size == 4 => "float32"
      case 1 if size == 8 => "float64"
      case _ => throw new IllegalArgumentException(
        s"HDF5 datatype class $cls size $size is not a raster dtype")
    }
  }

  final case class Filter(id: Int, clientData: Array[Int]) extends Serializable

  /** One chunk of a chunked dataset: logical element offsets (rank values,
    * the spec stores rank+1 with a trailing 0), file address, stored byte
    * count, and the per-chunk filter-exclusion mask. */
  final case class ChunkEntry(offsets: Array[Long], addr: Long, size: Int,
      filterMask: Int) extends Serializable

  sealed trait Layout extends Serializable
  final case class Compact(data: Array[Byte]) extends Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  final case class Chunked(chunkDims: Array[Int], elemSize: Int,
      chunks: Array[ChunkEntry]) extends Layout

  final case class H5Attr(name: String, dtype: H5Type, n: Int,
      raw: Array[Byte]) extends Serializable {
    def text: Option[String] =
      if (dtype.cls == 3) {
        val end = raw.indexOf(0) match { case -1 => raw.length; case i => i }
        Some(new String(raw, 0, end, java.nio.charset.StandardCharsets.UTF_8))
      } else None
    def nums: Array[Double] =
      if (dtype.cls != 0 && dtype.cls != 1) Array.empty
      else {
        val bb = java.nio.ByteBuffer.wrap(raw).order(
          if (dtype.littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
          else java.nio.ByteOrder.BIG_ENDIAN)
        Array.tabulate(math.min(n, raw.length / math.max(1, dtype.size))) { i =>
          (dtype.cls, dtype.size) match {
            case (1, 4) => bb.getFloat(4 * i).toDouble
            case (1, 8) => bb.getDouble(8 * i)
            case (0, 1) => if (dtype.signed) bb.get(i).toDouble
              else (bb.get(i) & 0xFF).toDouble
            case (0, 2) => if (dtype.signed) bb.getShort(2 * i).toDouble
              else (bb.getShort(2 * i) & 0xFFFF).toDouble
            case (0, 4) => if (dtype.signed) bb.getInt(4 * i).toDouble
              else (bb.getInt(4 * i) & 0xFFFFFFFFL).toDouble
            case (0, 8) => bb.getLong(8 * i).toDouble
            case _ => Double.NaN
          }
        }
      }
    def num: Option[Double] = nums.headOption
  }

  final case class Dataset(name: String, dims: Array[Long], dtype: H5Type,
      layout: Layout, filters: Seq[Filter], attrs: Map[String, H5Attr],
      fill: Option[Array[Byte]]) extends Serializable

  // ----------------------------------------------------------- byte cursor

  /** Little-endian cursor over one fetched block. Out-of-bounds reads —
    * corrupt size fields shrinking a structure under its fixed layout —
    * surface as clean parse errors, never index exceptions. */
  private final class Cur(val b: Array[Byte], var p: Int) {
    private def need(n: Int): Unit =
      if (p < 0 || n < 0 || p + n > b.length)
        throw new IllegalArgumentException(
          s"truncated HDF5 structure (need $n bytes at $p of ${b.length})")
    def u8(): Int = { need(1); val v = b(p) & 0xFF; p += 1; v }
    def u16(): Int = {
      need(2); val v = (b(p) & 0xFF) | (b(p + 1) & 0xFF) << 8; p += 2; v
    }
    def u32(): Long = {
      need(4)
      val v = (b(p) & 0xFFL) | (b(p + 1) & 0xFFL) << 8 |
        (b(p + 2) & 0xFFL) << 16 | (b(p + 3) & 0xFFL) << 24
      p += 4; v
    }
    def u64(): Long = { val lo = u32(); val hi = u32(); lo | hi << 32 }
    def bytes(n: Int): Array[Byte] = {
      need(n)
      val v = java.util.Arrays.copyOfRange(b, p, p + n); p += n; v
    }
    def skip(n: Int): Unit = p += n
    def remaining: Int = b.length - p
  }

  private def fail(path: String, what: String): Nothing =
    throw new IllegalArgumentException(s"$path: unsupported HDF5 feature: $what")

  // ----------------------------------------------------------- open

  private val MaxHeaderBlock = 1 << 26 // any single header structure

  /** Parse the container: root-group datasets by name (driver-side;
    * O(header + chunk index)). Sub-groups are ignored — netCDF-4 classic-
    * model rasters keep variables at the root. */
  def open(path: String): Map[String, Dataset] = {
    val rr = RandomReader(path)
    try open(path, rr) finally rr.close()
  }

  def open(path: String, rr: RandomReader): Map[String, Dataset] = {
    // check the signature before fetching the full superblock: a short
    // non-HDF5 file must say "not HDF5", not hit EOF mid-superblock
    require(java.util.Arrays.equals(rr.readAt(0L, 8), Signature),
      s"$path: not an HDF5 file (superblock signature missing at offset 0)")
    val head = rr.readAt(0L, 96)
    val sbVersion = head(8) & 0xFF
    val rootOH: Long = sbVersion match {
      case 0 | 1 =>
        // v0: versions(4) + sizes(2) + reserved + K values + flags, then
        // base/free-space/EOF/driver addresses, then the root group's
        // Symbol Table Entry whose second field is the object header
        val c = new Cur(head, 9)
        c.skip(4) // free-space ver, root-sym ver, reserved, shared-hdr ver
        val soff = c.u8(); val slen = c.u8()
        require(soff == 8 && slen == 8,
          s"$path: offset/length size $soff/$slen unsupported (netCDF-4 uses 8)")
        c.skip(1) // reserved
        c.skip(2 + 2 + 4) // leaf K, internal K, consistency flags
        if (sbVersion == 1) c.skip(4) // v1: indexed-storage K + reserved
        val base = c.u64()
        require(base == 0L, s"$path: non-zero base address $base unsupported")
        c.skip(8 + 8 + 8) // free-space, EOF, driver-info
        c.u64() // root STE: link name offset
        c.u64() // root STE: object header address
      case 2 | 3 =>
        val c = new Cur(head, 9)
        val soff = c.u8(); val slen = c.u8()
        require(soff == 8 && slen == 8,
          s"$path: offset/length size $soff/$slen unsupported")
        c.skip(1) // consistency flags
        val base = c.u64()
        require(base == 0L, s"$path: non-zero base address $base unsupported")
        c.skip(8 + 8) // superblock extension, EOF
        c.u64() // root group object header address
      case v => fail(path, s"superblock version $v")
    }
    val root = readObjectHeader(path, rr, rootOH)
    val children = collection.mutable.LinkedHashMap[String, Long]()
    root.messages.foreach {
      case (MsgSymbolTable, body) =>
        val c = new Cur(body, 0)
        val btree = c.u64(); val heap = c.u64()
        walkGroupBtree(path, rr, btree, readLocalHeap(path, rr, heap), children)
      case (MsgLink, body) =>
        parseLinkMessage(path, body).foreach { case (n, a) => children(n) = a }
      case _ => ()
    }
    children.iterator.flatMap { case (name, addr) =>
      toDataset(path, rr, name, addr)
    }.map(d => d.name -> d).toMap
  }

  // ----------------------------------------------------------- group walk

  private def readLocalHeap(path: String, rr: RandomReader, addr: Long): Array[Byte] = {
    val h = rr.readAt(addr, 32)
    require(h(0) == 'H' && h(1) == 'E' && h(2) == 'A' && h(3) == 'P',
      s"$path: bad local heap signature at $addr")
    val c = new Cur(h, 8) // sig + version + 3 reserved
    val segSize = c.u64(); c.u64() // free-list head
    val segAddr = c.u64()
    require(segSize >= 0 && segSize <= MaxHeaderBlock,
      s"$path: implausible local heap size $segSize")
    rr.readAt(segAddr, segSize.toInt)
  }

  private def heapName(heap: Array[Byte], off: Long): String = {
    require(off >= 0 && off < heap.length, s"heap name offset $off out of range")
    var end = off.toInt
    while (end < heap.length && heap(end) != 0) end += 1
    new String(heap, off.toInt, end - off.toInt,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  private def walkGroupBtree(path: String, rr: RandomReader, addr: Long,
      heap: Array[Byte], out: collection.mutable.Map[String, Long],
      depth: Int = 0): Unit = {
    require(depth < 32, s"$path: group B-tree deeper than 32 levels")
    val head = rr.readAt(addr, 24)
    require(head(0) == 'T' && head(1) == 'R' && head(2) == 'E' && head(3) == 'E',
      s"$path: bad B-tree signature at $addr")
    val nodeType = head(4) & 0xFF; val level = head(5) & 0xFF
    require(nodeType == 0, s"$path: B-tree node type $nodeType where group expected")
    val entries = (head(6) & 0xFF) | (head(7) & 0xFF) << 8
    require(entries >= 0 && entries <= (1 << 16), s"$path: implausible B-tree entries")
    // keys are heap offsets (L), children are addresses (O): K+1 keys, K children
    val body = new Cur(rr.readAt(addr + 24, (2 * entries + 1) * 8), 0)
    body.u64() // leftmost key
    (0 until entries).foreach { _ =>
      val child = body.u64(); body.u64() // child, right key
      if (level > 0) walkGroupBtree(path, rr, child, heap, out, depth + 1)
      else readSnod(path, rr, child, heap, out)
    }
  }

  private def readSnod(path: String, rr: RandomReader, addr: Long,
      heap: Array[Byte], out: collection.mutable.Map[String, Long]): Unit = {
    val head = rr.readAt(addr, 8)
    require(head(0) == 'S' && head(1) == 'N' && head(2) == 'O' && head(3) == 'D',
      s"$path: bad symbol node signature at $addr")
    val n = (head(6) & 0xFF) | (head(7) & 0xFF) << 8
    require(n >= 0 && n <= (1 << 14), s"$path: implausible symbol count $n")
    val c = new Cur(rr.readAt(addr + 8, n * 40), 0)
    (0 until n).foreach { _ =>
      val nameOff = c.u64(); val oh = c.u64()
      c.skip(4 + 4 + 16) // cache type, reserved, scratch
      out(heapName(heap, nameOff)) = oh
    }
  }

  /** Link message (v2 compact groups): returns name → object header for
    * hard links; soft/external links are skipped (not rasters). */
  private def parseLinkMessage(path: String, body: Array[Byte]): Option[(String, Long)] = {
    val c = new Cur(body, 0)
    val ver = c.u8()
    require(ver == 1, s"$path: link message version $ver")
    val flags = c.u8()
    val linkType = if ((flags & 0x08) != 0) c.u8() else 0
    if ((flags & 0x04) != 0) c.skip(8) // creation order
    if ((flags & 0x10) != 0) c.skip(1) // charset
    val nameLen = (flags & 0x03) match {
      case 0 => c.u8(); case 1 => c.u16(); case 2 => c.u32().toInt
      case _ => c.u64().toInt
    }
    val name = new String(c.bytes(nameLen), java.nio.charset.StandardCharsets.UTF_8)
    if (linkType == 0) Some(name -> c.u64()) else None
  }

  // ----------------------------------------------------------- object headers

  private val MsgDataspace = 0x0001
  private val MsgDatatype = 0x0003
  private val MsgFillOld = 0x0004
  private val MsgFill = 0x0005
  private val MsgLink = 0x0006
  private val MsgLayout = 0x0008
  private val MsgFilters = 0x000B
  private val MsgAttribute = 0x000C
  private val MsgContinuation = 0x0010
  private val MsgSymbolTable = 0x0011

  private final case class ObjHeader(messages: Seq[(Int, Array[Byte])])

  private def readObjectHeader(path: String, rr: RandomReader, addr: Long): ObjHeader = {
    val probe = rr.readAt(addr, 16)
    if (probe(0) == 'O' && probe(1) == 'H' && probe(2) == 'D' && probe(3) == 'R')
      readObjectHeaderV2(path, rr, addr)
    else {
      // version 1 prefix: version, reserved, message count, ref count,
      // header size; message data begins 8-byte aligned (offset +16)
      val c = new Cur(probe, 0)
      val ver = c.u8(); c.skip(1)
      require(ver == 1, s"$path: object header version $ver at $addr")
      val nMsgs = c.u16(); c.u32()
      val size = c.u32()
      require(size >= 0 && size <= MaxHeaderBlock,
        s"$path: implausible object header size $size")
      require(nMsgs <= (1 << 16), s"$path: implausible message count $nMsgs")
      val msgs = collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
      var blocks = List((addr + 16, size.toInt))
      var seen = 0
      while (blocks.nonEmpty && seen < nMsgs) {
        val (bAddr, bLen) = blocks.head
        blocks = blocks.tail
        val c2 = new Cur(rr.readAt(bAddr, bLen), 0)
        while (seen < nMsgs && c2.remaining >= 8) {
          val t = c2.u16(); val sz = c2.u16(); c2.skip(4) // flags + reserved
          require(sz <= c2.remaining, s"$path: message overruns header block")
          val body = c2.bytes(sz)
          seen += 1
          if (t == MsgContinuation) {
            val cc = new Cur(body, 0)
            val cAddr = cc.u64(); val cLen = cc.u64()
            require(cLen >= 0 && cLen <= MaxHeaderBlock,
              s"$path: implausible continuation length $cLen")
            blocks = blocks :+ (cAddr, cLen.toInt)
          } else msgs += (t -> body)
        }
      }
      ObjHeader(msgs.toSeq)
    }
  }

  private def readObjectHeaderV2(path: String, rr: RandomReader, addr: Long): ObjHeader = {
    val head = rr.readAt(addr, 32)
    val c = new Cur(head, 4)
    val ver = c.u8()
    require(ver == 2, s"$path: OHDR version $ver")
    val flags = c.u8()
    if ((flags & 0x20) != 0) c.skip(16) // 4 timestamps
    if ((flags & 0x10) != 0) c.skip(4) // compact/dense attr thresholds
    val chunkSize = (flags & 0x03) match {
      case 0 => c.u8().toLong; case 1 => c.u16().toLong
      case 2 => c.u32(); case _ => c.u64()
    }
    require(chunkSize >= 0 && chunkSize <= MaxHeaderBlock,
      s"$path: implausible OHDR chunk size $chunkSize")
    val trackOrder = (flags & 0x04) != 0
    val msgs = collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
    // (block data address, length, has OCHK signature prefix)
    var blocks = List((addr + c.p, chunkSize.toInt))
    while (blocks.nonEmpty) {
      val (bAddr, bLen) = blocks.head
      blocks = blocks.tail
      val c2 = new Cur(rr.readAt(bAddr, bLen), 0)
      // continuation blocks open with their own "OCHK" signature
      if (c2.remaining >= 4 && c2.b(0) == 'O' && c2.b(1) == 'C' &&
        c2.b(2) == 'H' && c2.b(3) == 'K') c2.skip(4)
      // trailing 4 bytes are the block checksum; a message header needs 4+
      while (c2.remaining > 4 + 3) {
        val t = c2.u8(); val sz = c2.u16(); c2.skip(1) // flags
        if (trackOrder) c2.skip(2)
        require(sz <= c2.remaining, s"$path: OHDR message overruns block")
        val body = c2.bytes(sz)
        if (t == MsgContinuation) {
          val cc = new Cur(body, 0)
          val cAddr = cc.u64(); val cLen = cc.u64()
          require(cLen >= 0 && cLen <= MaxHeaderBlock,
            s"$path: implausible continuation length $cLen")
          blocks = blocks :+ (cAddr, cLen.toInt)
        } else msgs += (t -> body)
      }
    }
    ObjHeader(msgs.toSeq)
  }

  // ----------------------------------------------------------- messages

  private def parseDataspace(path: String, body: Array[Byte]): Array[Long] = {
    val c = new Cur(body, 0)
    val ver = c.u8()
    val rank = c.u8()
    c.skip(1) // flags
    ver match {
      case 1 => c.skip(5) // reserved
      case 2 => c.skip(1) // type
      case v => fail(path, s"dataspace version $v")
    }
    require(rank <= 8, s"$path: dataspace rank $rank")
    Array.fill(rank)(c.u64())
  }

  private def parseDatatype(path: String, body: Array[Byte]): H5Type = {
    val c = new Cur(body, 0)
    val b0 = c.u8()
    val ver = b0 >> 4; val cls = b0 & 0x0F
    require(ver >= 1 && ver <= 3, s"$path: datatype version $ver")
    val bf0 = c.u8(); c.skip(2) // class bit fields 8-23
    val size = c.u32()
    require(size >= 1 && size <= 8 || cls == 3 && size <= (1 << 16),
      s"$path: datatype size $size")
    cls match {
      case 0 => H5Type(0, size.toInt, signed = (bf0 & 0x08) != 0,
        littleEndian = (bf0 & 0x01) == 0)
      case 1 => H5Type(1, size.toInt, signed = true,
        littleEndian = (bf0 & 0x01) == 0)
      case 3 => H5Type(3, size.toInt, signed = false, littleEndian = true)
      case c2 => fail(path, s"datatype class $c2 (fixed/float/string only)")
    }
  }

  private def parseLayout(path: String, rr: RandomReader, body: Array[Byte],
      dsetDims: Array[Long], elemSize: Int): Layout = {
    val c = new Cur(body, 0)
    val ver = c.u8()
    require(ver == 3, s"$path: data layout version $ver (libhdf5 writes v3)")
    c.u8() match {
      case 0 =>
        val n = c.u16()
        require(n >= 0 && n <= c.remaining, s"$path: compact layout size $n")
        Compact(c.bytes(n))
      case 1 =>
        val addr = c.u64(); val size = c.u64()
        Contiguous(addr, size)
      case 2 =>
        val dimensionality = c.u8() // rank + 1 (trailing element-size dim)
        require(dimensionality >= 2 && dimensionality <= 9,
          s"$path: chunked layout dimensionality $dimensionality")
        val btree = c.u64()
        val dims = Array.fill(dimensionality)(c.u32().toInt)
        val chunkDims = dims.dropRight(1)
        require(chunkDims.forall(d => d > 0 && d <= (1 << 28)),
          s"$path: implausible chunk dims ${chunkDims.mkString("x")}")
        val chunks = collection.mutable.ArrayBuffer[ChunkEntry]()
        if (btree != Unset)
          walkChunkBtree(path, rr, btree, dimensionality, chunks)
        Chunked(chunkDims, dims.last, chunks.toArray)
      case cl => fail(path, s"layout class $cl")
    }
  }

  private def walkChunkBtree(path: String, rr: RandomReader, addr: Long,
      dimensionality: Int, out: collection.mutable.ArrayBuffer[ChunkEntry],
      depth: Int = 0): Unit = {
    require(depth < 32, s"$path: chunk B-tree deeper than 32 levels")
    val head = rr.readAt(addr, 24)
    require(head(0) == 'T' && head(1) == 'R' && head(2) == 'E' && head(3) == 'E',
      s"$path: bad chunk B-tree signature at $addr")
    require((head(4) & 0xFF) == 1, s"$path: B-tree node type ${head(4)} where chunks expected")
    val level = head(5) & 0xFF
    val entries = (head(6) & 0xFF) | (head(7) & 0xFF) << 8
    require(entries >= 0 && entries <= (1 << 16), s"$path: implausible B-tree entries")
    // key: chunk byte size (4) + filter mask (4) + offsets (8 × dimensionality)
    val keyLen = 8 + 8 * dimensionality
    val body = new Cur(rr.readAt(addr + 24, (entries + 1) * keyLen + entries * 8), 0)
    (0 until entries).foreach { _ =>
      val size = body.u32(); val mask = body.u32()
      val offs = Array.fill(dimensionality)(body.u64())
      val child = body.u64()
      require(size >= 0 && size <= MaxHeaderBlock, s"$path: implausible chunk size $size")
      if (level > 0) walkChunkBtree(path, rr, child, dimensionality, out, depth + 1)
      else out += ChunkEntry(offs.dropRight(1), child, size.toInt, mask.toInt)
    }
  }

  private def parseFilters(path: String, body: Array[Byte]): Seq[Filter] = {
    val c = new Cur(body, 0)
    val ver = c.u8()
    val n = c.u8()
    require(n <= 32, s"$path: implausible filter count $n")
    ver match {
      case 1 => c.skip(6)
      case 2 => ()
      case v => fail(path, s"filter pipeline version $v")
    }
    (0 until n).map { _ =>
      val id = c.u16()
      val nameLen = if (ver == 2 && id < 256) 0 else c.u16()
      c.u16() // flags
      val nVals = c.u16()
      require(nVals <= 16, s"$path: implausible filter client data count")
      if (ver == 1) c.skip((nameLen + 7) / 8 * 8) else c.skip(nameLen)
      val vals = Array.fill(nVals)(c.u32().toInt)
      if (ver == 1 && nVals % 2 == 1) c.skip(4)
      Filter(id, vals)
    }
  }

  private def parseFill(path: String, body: Array[Byte]): Option[Array[Byte]] = {
    val c = new Cur(body, 0)
    c.u8() match {
      case 1 =>
        c.skip(2) // alloc time, write time
        c.u8() // defined (v1 always stores size+data)
        val n = c.u32().toInt
        if (n > 0 && n <= c.remaining) Some(c.bytes(n)) else None
      case 2 =>
        c.skip(2)
        val defined = c.u8()
        if (defined != 1) None
        else {
          val n = c.u32().toInt
          if (n > 0 && n <= c.remaining) Some(c.bytes(n)) else None
        }
      case 3 =>
        val flags = c.u8()
        if ((flags & 0x20) == 0) None
        else {
          val n = c.u32().toInt
          if (n > 0 && n <= c.remaining) Some(c.bytes(n)) else None
        }
      case v => fail(path, s"fill value version $v")
    }
  }

  private def parseAttribute(path: String, body: Array[Byte]): Option[H5Attr] = {
    val c = new Cur(body, 0)
    val ver = c.u8()
    require(ver >= 1 && ver <= 3, s"$path: attribute version $ver")
    val flags = if (ver >= 2) c.u8() else { c.skip(1); 0 }
    val nameSize = c.u16(); val dtSize = c.u16(); val dsSize = c.u16()
    if (ver == 3) c.skip(1) // name character-set encoding
    def padded(n: Int): Int = if (ver == 1) (n + 7) / 8 * 8 else n
    val nameBytes = c.bytes(padded(nameSize))
    val nameEnd = nameBytes.indexOf(0) match {
      case -1 => math.min(nameSize, nameBytes.length); case i => i
    }
    val name = new String(nameBytes, 0, nameEnd,
      java.nio.charset.StandardCharsets.UTF_8)
    if ((flags & 0x01) != 0) return None // shared datatype: skip (not CF attrs)
    val dt = parseDatatype(path, c.bytes(padded(dtSize)))
    val dims = parseDataspace(path, c.bytes(padded(dsSize)))
    val n = dims.product.toInt max 1
    val want = n * dt.size
    val raw = c.bytes(math.min(want, c.remaining))
    Some(H5Attr(name, dt, n, raw))
  }

  private def toDataset(path: String, rr: RandomReader, name: String,
      ohAddr: Long): Option[Dataset] = {
    val oh = readObjectHeader(path, rr, ohAddr)
    var dims: Array[Long] = null
    var dtype: H5Type = null
    var layoutBody: Array[Byte] = null
    var filters: Seq[Filter] = Seq.empty
    var fill: Option[Array[Byte]] = None
    val attrs = collection.mutable.LinkedHashMap[String, H5Attr]()
    var isGroup = false
    oh.messages.foreach {
      case (MsgDataspace, b) => dims = parseDataspace(path, b)
      case (MsgDatatype, b) => dtype = parseDatatype(path, b)
      case (MsgLayout, b) => layoutBody = b
      case (MsgFilters, b) => filters = parseFilters(path, b)
      case (MsgFill, b) => fill = parseFill(path, b)
      case (MsgFillOld, _) => ()
      case (MsgAttribute, b) =>
        try parseAttribute(path, b).foreach(a => attrs(a.name) = a)
        catch {
          // attributes with exotic types (vlen reference lists etc.) are
          // netCDF-4 bookkeeping — ignorable for raster ingest
          case _: IllegalArgumentException => ()
        }
      case (MsgSymbolTable, _) | (MsgLink, _) => isGroup = true
      case _ => () // NIL, mod-time, bt-k, driver info, …
    }
    if (isGroup || dims == null || dtype == null || layoutBody == null) None
    else {
      val layout = parseLayout(path, rr, layoutBody, dims, dtype.size)
      Some(Dataset(name, dims, dtype, layout, filters, attrs.toMap, fill))
    }
  }

  // ----------------------------------------------------------- filters

  /** HDF5 fletcher32, bit-exact with `H5_checksum_fletcher32`: big-endian
    * 16-bit word sums in 360-word blocks with one's-complement folding
    * (`(x & 0xffff) + (x >> 16)`, NOT mod 65535 — they differ at the
    * 0xFFFF boundary), odd trailing byte high-aligned, double-folded. */
  def fletcher32(data: Array[Byte], len: Int): Long = {
    var sum1 = 0L; var sum2 = 0L
    def fold(): Unit = {
      sum1 = (sum1 & 0xFFFFL) + (sum1 >>> 16)
      sum2 = (sum2 & 0xFFFFL) + (sum2 >>> 16)
    }
    var i = 0
    val pairs = len / 2
    var done = 0
    while (done < pairs) {
      val block = math.min(360, pairs - done)
      var k = 0
      while (k < block) {
        sum1 += ((data(i) & 0xFFL) << 8) | (data(i + 1) & 0xFFL)
        sum2 += sum1
        i += 2; k += 1
      }
      done += block
      fold()
    }
    if (len % 2 == 1) { sum1 += (data(len - 1) & 0xFFL) << 8; sum2 += sum1; fold() }
    fold()
    ((sum2 & 0xFFFFL) << 16) | (sum1 & 0xFFFFL)
  }

  /** Undo the registered filters on one stored chunk (reverse order):
    * fletcher32 → verify+strip, deflate → inflate (zlib-wrapped), shuffle →
    * byte-untranspose. `filterMask` bit i set = filter i was skipped. */
  def decodeChunk(path: String, raw: Array[Byte], filters: Seq[Filter],
      filterMask: Int, elemSize: Int, expect: Int): Array[Byte] = {
    var data = raw
    filters.zipWithIndex.reverse.foreach { case (f, i) =>
      if ((filterMask & (1 << i)) == 0) f.id match {
        case 1 => // deflate
          val inf = new java.util.zip.Inflater()
          inf.setInput(data)
          val out = new Array[Byte](expect)
          var off = 0
          try {
            while (off < expect && !inf.finished()) {
              val n = inf.inflate(out, off, expect - off)
              if (n == 0 && inf.needsInput())
                throw new IllegalArgumentException(s"$path: truncated deflate chunk")
              off += n
            }
          } catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(s"$path: corrupt deflate chunk: $e")
          } finally inf.end()
          require(off == expect, s"$path: deflate chunk: got $off of $expect bytes")
          data = out
        case 2 => // shuffle: stored as [byte0 of all elems][byte1 of all elems]…
          val es = if (f.clientData.nonEmpty) f.clientData(0) else elemSize
          if (es > 1 && data.length % es == 0) {
            val n = data.length / es
            val out = new Array[Byte](data.length)
            var j = 0
            while (j < es) {
              var k = 0
              while (k < n) { out(k * es + j) = data(j * n + k); k += 1 }
              j += 1
            }
            data = out
          }
        case 3 => // fletcher32: 4-byte little-endian checksum appended
          require(data.length >= 4, s"$path: fletcher32 chunk too short")
          val stored = (data(data.length - 4) & 0xFFL) |
            (data(data.length - 3) & 0xFFL) << 8 |
            (data(data.length - 2) & 0xFFL) << 16 |
            (data(data.length - 1) & 0xFFL) << 24
          val calc = fletcher32(data, data.length - 4)
          require(calc == stored,
            s"$path: fletcher32 mismatch (stored $stored, computed $calc)")
          data = java.util.Arrays.copyOf(data, data.length - 4)
        case id => fail(path, s"filter id $id (deflate/shuffle/fletcher32 only)")
      }
    }
    require(data.length == expect,
      s"$path: chunk decoded to ${data.length} bytes, expected $expect")
    data
  }

  /** Fully read a small dataset (coordinate axes): all layouts, filters
    * applied. Driver-side only — bounded by [[MaxHeaderBlock]]. */
  def readAll(path: String, rr: RandomReader, d: Dataset): Array[Byte] = {
    val total = d.dims.product * d.dtype.size
    require(total >= 0 && total <= MaxHeaderBlock,
      s"$path: dataset '${d.name}' too large for a full driver-side read")
    d.layout match {
      case Compact(data) => data
      case Contiguous(addr, size) =>
        if (addr == Unset) new Array[Byte](total.toInt)
        else rr.readAt(addr, math.min(size, total).toInt)
      case Chunked(chunkDims, elemSize, chunks) =>
        val out = new Array[Byte](total.toInt)
        val chunkElems = chunkDims.map(_.toLong).product
        val chunkBytes = (chunkElems * elemSize).toInt
        chunks.foreach { ce =>
          val raw = rr.readAt(ce.addr, ce.size)
          val dec = decodeChunk(path, raw, d.filters, ce.filterMask, elemSize, chunkBytes)
          // copy the chunk into the row-major output (rank ≤ 2 axes here)
          require(d.dims.length == 1, s"$path: '${d.name}': driver readAll is 1-D only")
          val start = (ce.offsets(0) * elemSize).toInt
          val n = math.min(chunkBytes, out.length - start)
          if (n > 0) System.arraycopy(dec, 0, out, start, n)
        }
        out
    }
  }
}
