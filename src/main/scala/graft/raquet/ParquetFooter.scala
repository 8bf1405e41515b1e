package graft.raquet

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, RandomAccessFile}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.{FileMetaData, KeyValue, SortingColumn, Util}

/** Spec-mandated parquet FOOTER metadata for raquet output
  * (`format-specs/raquet.md:685-695`): the `raquet:version` key-value entry
  * that lets ecosystem consumers fast-identify a file as raquet without
  * parsing the metadata row, and the per-row-group `SortingColumn`
  * declaration of the Morton sort order (reference writer
  * `raquet/raster2raquet.py:1662-1665`, `2269-2274`; asserted by its
  * `tests/test_cli.py:557-561`).
  *
  * Spark's parquet writer exposes neither, so both are stamped by an
  * in-place FOOTER REWRITE after the write: parse the thrift footer with
  * parquet-format's own codec ([[Util]]), add the KV pair and sorting
  * declarations, and write the new footer over the old one (data pages are
  * untouched — the footer is the file's tail, so the rewrite is O(footer)
  * per file regardless of data size, and at 100 TB the per-file stamp can
  * run wherever the files live).
  */
object ParquetFooter {

  val VersionKey = "raquet:version"
  val Version = "0.5.0"
  private val Magic = "PAR1".getBytes("US-ASCII")

  /** Stamp one parquet file in place: add `raquet:version` (idempotent) and
    * declare `sortCols` (ascending, nulls-last) on every row group. Sort
    * columns missing from the schema are skipped. */
  def stamp(file: Path, sortCols: Seq[String] = Seq("block")): Unit =
    rewrite(file) { md =>
      val hasKey = md.getKey_value_metadata != null &&
        md.getKey_value_metadata.asScala.exists(_.getKey == VersionKey)
      if (!hasKey) {
        val kv = new KeyValue(VersionKey)
        kv.setValue(Version)
        md.addToKey_value_metadata(kv)
      }
      val leaves = leafNames(md)
      val scs = sortCols.flatMap { c =>
        val i = leaves.indexOf(c)
        if (i < 0) None else Some(new SortingColumn(i, false, false))
      }
      if (scs.nonEmpty)
        md.getRow_groups.asScala.foreach(_.setSorting_columns(scs.asJava))
    }

  /** Stamp every `.parquet` under `dir` (or `dir` itself if it is a file). */
  def stampAll(dir: String, sortCols: Seq[String] = Seq("block")): Unit = {
    val p = Paths.get(dir)
    if (Files.isRegularFile(p)) stamp(p, sortCols)
    else parquetFiles(p).foreach(stamp(_, sortCols))
  }

  /** The `.parquet` files directly under `dir`, in path order. The listing
    * is closed before this returns. */
  def parquetFiles(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    finally listing.close()
  }

  /** Read one footer key-value entry (e.g. GeoParquet's `geo` JSON). */
  def keyValue(file: Path, key: String): Option[String] =
    withFooter(file, "r") { (_, md, _) =>
      Option(md.getKey_value_metadata).toSeq.flatMap(_.asScala)
        .find(_.getKey == key).flatMap(kv => Option(kv.getValue))
    }

  /** Add (or replace) one footer key-value entry in place — the same
    * O(footer) rewrite as [[stamp]]; used by the GeoParquet sink. */
  def stampKeyValue(file: Path, key: String, value: String): Unit =
    rewrite(file) { md =>
      Option(md.getKey_value_metadata).foreach { kvs =>
        val it = kvs.iterator()
        while (it.hasNext) if (it.next().getKey == key) it.remove()
      }
      val kv = new KeyValue(key)
      kv.setValue(value)
      md.addToKey_value_metadata(kv)
    }

  /** Read back the footer contract of one file: (raquet:version value or
    * null, number of row groups, number of row groups declaring an
    * ascending sort on `sortCol` first). */
  def inspect(file: Path, sortCol: String = "block"): (Option[String], Int, Int) =
    withFooter(file, "r") { (_, md, _) =>
      val version = Option(md.getKey_value_metadata)
        .flatMap(_.asScala.find(_.getKey == VersionKey)).map(_.getValue)
      val want = leafNames(md).indexOf(sortCol)
      val rgs = md.getRow_groups.asScala
      val sorted = rgs.count { rg =>
        rg.isSetSorting_columns && rg.getSorting_columns.asScala.headOption.exists(
          sc => sc.getColumn_idx == want && !sc.isDescending && !sc.isNulls_first)
      }
      (version, rgs.size, sorted)
    }

  // leaf order in a flat raquet schema = field order minus the root
  private def leafNames(md: FileMetaData): Seq[String] =
    md.getSchema.asScala.drop(1).toSeq
      .filter(e => !e.isSetNum_children || e.getNum_children == 0)
      .map(_.getName)

  /** Open `file` in `mode`, parse its thrift footer and hand `f` the open
    * file, the footer and the footer's start offset. The length field is
    * read unsigned and checked against the file before it sizes the read,
    * so a file with a lying length fails by name instead of allocating up
    * to 2 GiB or seeking before the start. */
  private def withFooter[A](file: Path, mode: String)(
      f: (RandomAccessFile, FileMetaData, Long) => A): A = {
    val raf = new RandomAccessFile(file.toFile, mode)
    try {
      val len = raf.length()
      require(len > 12, s"$file: too short for a parquet file ($len bytes)")
      val tail = new Array[Byte](8)
      raf.seek(len - 8)
      raf.readFully(tail)
      require(tail.slice(4, 8).sameElements(Magic), s"$file: missing PAR1 magic")
      val footerLen = ((tail(0) & 0xFF) | ((tail(1) & 0xFF) << 8) |
        ((tail(2) & 0xFF) << 16) | ((tail(3) & 0xFF) << 24)) & 0xFFFFFFFFL
      val footerStart = len - 8 - footerLen
      require(footerStart >= 4 && footerLen <= Int.MaxValue,
        s"$file: footer length $footerLen out of range")
      val fb = new Array[Byte](footerLen.toInt)
      raf.seek(footerStart)
      raf.readFully(fb)
      f(raf, Util.readFileMetaData(new ByteArrayInputStream(fb)), footerStart)
    } finally raf.close()
  }

  /** Apply `edit` to the footer of `file` and write the new footer over the
    * old one in place. */
  private def rewrite(file: Path)(edit: FileMetaData => Unit): Unit = {
    withFooter(file, "rw") { (raf, md, footerStart) =>
      edit(md)
      val bos = new ByteArrayOutputStream()
      Util.writeFileMetaData(md, bos)
      val nb = bos.toByteArray
      raf.seek(footerStart)
      raf.write(nb)
      raf.write(Array[Byte](
        (nb.length & 0xFF).toByte, ((nb.length >> 8) & 0xFF).toByte,
        ((nb.length >> 16) & 0xFF).toByte, ((nb.length >> 24) & 0xFF).toByte))
      raf.write(Magic)
      raf.setLength(footerStart + nb.length + 8)
    }
    // the rewrite invalidates Hadoop's local-FS checksum sidecar; without
    // it reads skip verification, with a stale one they throw
    Files.deleteIfExists(
      file.resolveSibling("." + file.getFileName.toString + ".crc"))
    // a same-length rewrite within the mtime resolution keeps the file's
    // cache key
    FooterCache.evict(file)
  }
}
