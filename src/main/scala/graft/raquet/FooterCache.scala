package graft.raquet

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.google.common.cache.{Cache, CacheBuilder, Weigher}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.metadata.ParquetMetadata

/** Parsed parquet footers of raquet data files, each with the outcome of
  * the footer pass's search for the `block = 0` metadata row once it has
  * searched the file: the parsed row, or that the file holds none.
  *
  * An entry is keyed by the file's qualified path, length and modification
  * time, which the table listing returns on every open: a rewritten,
  * replaced or deleted file lists under another key or not at all, so its
  * old entry is never read again and leaves by least-recently-used eviction.
  * What the key cannot see is a same-length rewrite within the file system's
  * modification-time resolution; the engine's own in-place writers
  * ([[ParquetFooter]]'s stamps, the single-file writer's move over an
  * existing path) [[evict]] the path they replace.
  *
  * The total size is bounded by `maxBytes` of estimated footer bytes, with
  * least-recently-used eviction (a weighed Guava cache, as Spark's own
  * `FileStatusCache`). */
private[graft] final class FooterCache(val maxBytes: Long) {
  import FooterCache._

  private val cache: Cache[Key, Entry] = CacheBuilder.newBuilder()
    .concurrencyLevel(1)
    .maximumWeight(maxBytes)
    .weigher[Key, Entry](new Weigher[Key, Entry] {
      def weigh(k: Key, e: Entry): Int = weight(k, e)
    })
    .build[Key, Entry]()

  def get(file: FileStatus): Option[Entry] = Option(cache.getIfPresent(Key(file)))

  def put(file: FileStatus, entry: Entry): Unit = cache.put(Key(file), entry)

  /** Drop every version of the file at `path`. */
  def evict(path: HPath): Unit = {
    val p = path.toString
    cache.asMap.keySet.removeIf(_.path == p)
  }

  /** The estimated bytes of the entries held. */
  def bytes: Long = cache.asMap.asScala.iterator.map { case (k, e) => weight(k, e).toLong }.sum
}

private[graft] object FooterCache {

  /** One version of a file, as its listing returns it. */
  final case class Key(path: String, length: Long, modified: Long)

  object Key {
    def apply(file: FileStatus): Key =
      Key(file.getPath.toString, file.getLen, file.getModificationTime)
  }

  /** A file's footer; once `searched` for the metadata row, `meta` is the
    * row when the file holds it (None: the file holds none). */
  final case class Entry(footer: ParquetMetadata, meta: Option[RaquetMetadata],
      searched: Boolean = false)

  /** The bound of the process-wide cache: about 7,000 footers of one row
    * group and 16 columns (about 9.4 KB each). */
  val MaxBytes: Long = 64L << 20

  /** The process-wide cache: a footer is a property of the file, not of
    * the session that read it. */
  val shared = new FooterCache(MaxBytes)

  /** Evict the local file `file` from the process-wide cache. */
  def evict(file: Path): Unit = shared.evict(new HPath(file.toAbsolutePath.toUri))

  /** Estimated bytes of an entry: its strings, and a fixed allowance per
    * schema field, row group and column chunk. */
  private[graft] def weight(k: Key, e: Entry): Int = {
    val meta = e.footer.getFileMetaData
    val keyValues = meta.getKeyValueMetaData.asScala.iterator
      .map { case (key, value) => key.length + value.length }.sum
    val blocks = e.footer.getBlocks.asScala
    val estimate = 512L + 2L * (k.path.length + keyValues) +
      128L * meta.getSchema.getColumns.size + 128L * blocks.size +
      256L * blocks.iterator.map(_.getColumns.size.toLong).sum +
      e.meta.fold(0L)(m => 2L * RaquetMetadata.toJson(m).length)
    math.min(estimate, Int.MaxValue).toInt
  }
}
