package graft.raquet

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BlockRanges, Bridge, ListedFileScan, LocalParquetRows}
import org.apache.spark.sql.types.StructType

import graft.geo.Wkt
import graft.quadbin.{Polyfill, Quadbin}

/** The raquet table API: read (S1-S5), write (S9/T1). This is the surface a
  * reference user touches first (`docs/engines.md:36-52`): `read_raquet`,
  * `read_raquet_metadata`, `read_raquet_at`, spatial-filtered read.
  *
  * Scale design: spatial filters become Morton-range BETWEEN predicates on
  * the sorted `block` column, which Spark pushes into the parquet scan —
  * row-group min/max pruning then skips the untouched 99% exactly as the
  * reference's DuckDB extension does (`docs/performance.md:143-179`).
  *
  * Opening a table is one driver-side pass over its parquet footers
  * ([[open]]) that runs no Spark job: the data files are listed with
  * Spark's rules, the first footer gives the schema exactly as Spark's
  * inference would, and the `block = 0` metadata row is read from the first
  * file (in path order) whose `block` statistics admit 0 — only the `block`
  * and `metadata` columns of those row groups, behind an `eq(block, 0)`
  * record filter. The table DataFrame is then built with that schema over
  * that listing, so Spark neither infers nor lists anything. The metadata
  * is parsed once and carried into expressions as plan-time config — never
  * re-parsed per row.
  *
  * Each footer read, and the parsed metadata row, is kept in the
  * process-wide [[FooterCache]] under the file's path, length and
  * modification time, so the pass over an unchanged table reads nothing
  * but the listing.
  *
  * A point read ([[readAt]]) on a flat table goes on from the footer pass
  * to the rows: only the files whose cached `block` statistics admit the
  * point's cell are opened behind a `block = b` filter (a file whose footer
  * is not cached yet is opened too), only their row groups that admit the
  * cell (and, through the column index, only the matching pages) are read,
  * and the rows come back as a local relation, so a `select` + `collect`
  * over them runs no Spark job.
  *
  * An aggregate over a flat table opened here (or over a point read's rows)
  * whose input the footers show to be small runs on the driver as well:
  * [[org.apache.spark.sql.graft.DriverAggregate]] reads the admitted row
  * groups' needed columns through the same cached footers and
  * [[org.apache.spark.sql.graft.LocalParquetRows]], and folds the aggregate
  * into a local relation at plan time. The stats-column aggregates and
  * small region statistics run no Spark job; large and partitioned inputs
  * keep the scan.
  */
object RaquetIO {

  /** A raquet dataset: data rows (metadata row excluded) + parsed metadata. */
  final case class RaquetDataset(data: DataFrame, meta: RaquetMetadata) {
    def kernel(band: String): BandKernel = BandKernel(meta, band)

    /** Band blob column regardless of layout (spec `raquet.md:40-57`):
      * sequential → the band's own column; interleaved → extract the band
      * from the `pixels` payload (gunzip or JPEG-decode, then BIP
      * de-interleave). Composes with rq_decode / rq_summary_stats etc. */
    def band(name: String): Column = {
      import graft.functions.GraftFunctions._
      if (meta.bandLayout != "interleaved") col(name)
      else {
        val idx = meta.bands.indexWhere(_.name == name)
        require(idx >= 0, s"no band $name")
        val bps = PixelCodec.bytesPerPixel(meta.bands(idx).bandType)
        // webp-lossless (VP8L) decodes via the pure-JVM WebP codec; lossy
        // both webp flavors decode: VP8L losslessly, lossy VP8 key frames
        // via the RFC 6386 decoder (reference writes webp via Pillow,
        // raster2raquet.py:813-845 — lossy VP8 unless lossless=True)
        val raw =
          if (meta.compression.contains("webp"))
            graft.functions.GraftFunctions.mm_webp_pixels(col("pixels"), meta.bands.length)
          else if (meta.compression.contains("jpeg"))
            graft.functions.GraftFunctions.mm_jpeg_pixels(col("pixels"))
          else rq_inflate(col("pixels"))
        mm_deinterleave(raw, idx, meta.bands.length, bps)
      }
    }
  }

  /** S2: the parsed `block = 0` metadata row, from the footers alone (no
    * Spark job). Partitioned datasets have one row per partition, each
    * describing its own partition (`format-specs/raquet.md:160-175`); the
    * row of the first file in path order is returned, whatever the
    * session's scan settings. */
  def readMetadata(spark: SparkSession, path: String): RaquetMetadata =
    footerPass(spark, path).meta

  /** The table at `path` opened from its footers: the DataFrame of every
    * row (metadata rows included), built with the footer schema so Spark
    * runs no inference job, and the parsed metadata. */
  private[raquet] def open(spark: SparkSession, path: String): (DataFrame, RaquetMetadata) = {
    val t = footerPass(spark, path)
    (scan(spark, path, t), t.meta)
  }

  /** What the footer pass learns of a table: its listing, the footer of its
    * first file and the metadata. `conf` is the session's Hadoop conf the
    * files were listed and opened with. */
  private final class Footers(spark: SparkSession, val conf: Configuration, val listing: Listing,
      first: ParquetMetadata, val meta: RaquetMetadata) {
    def files: Seq[FileStatus] = listing.files

    /** The data schema, from the first file's footer. */
    lazy val schema: StructType = sparkSchema(spark, files.head.getPath, first)
  }

  /** The footer pass over the table at `path`: one listing, then the files
    * in path order until one holds the metadata row. Each file's footer and
    * metadata row come from [[FooterCache]] when it holds this version of
    * the file, so on an unchanged table the pass reads nothing but the
    * listing. */
  private def footerPass(spark: SparkSession, path: String): Footers = {
    val conf = spark.sessionState.newHadoopConf()
    val listing = listTable(conf, path)
    val searched = listing.files.to(LazyList).map(searchMetadata(conf, _))
    val meta = searched.flatMap(_.meta).headOption
    require(meta.nonEmpty, s"no metadata row (block=0) in $path")
    new Footers(spark, conf, listing, searched.head.footer, meta.get)
  }

  /** The cache entry of `file` once its metadata row is known: a cached
    * entry answers when it was searched (row found or not) or when its
    * `block` statistics rule out 0; otherwise the file is opened (its footer
    * read only when not cached) and the row groups whose statistics admit 0
    * are searched. */
  private def searchMetadata(conf: Configuration, file: FileStatus): FooterCache.Entry =
    FooterCache.shared.get(file) match {
      case Some(e) if e.searched || !admits(e.footer, 0L) => e
      case cached =>
        val reader = openFile(conf, file, MetadataRowFilter, cached.map(_.footer))
        try {
          val e = FooterCache.Entry(reader.getFooter,
            metadataRow(reader).map(RaquetMetadata.parse), searched = true)
          FooterCache.shared.put(file, e)
          e
        } finally reader.close()
    }

  /** Whether the `block` statistics of some row group of `footer` admit
    * `block = b` (missing statistics admit it): the row-group test the
    * reader itself applies first. */
  private def admits(footer: ParquetMetadata, b: Long): Boolean = {
    val eq = blockEq(b)
    footer.getBlocks.asScala.exists(g => !StatisticsFilter.canDrop(eq, g.getColumns))
  }

  private def blockEq(b: Long): FilterPredicate =
    FilterApi.eq(FilterApi.longColumn("block"), java.lang.Long.valueOf(b))

  private def blockFilter(b: Long): FilterCompat.Filter = FilterCompat.get(blockEq(b))

  private val MetadataRowFilter = blockFilter(0L)

  /** Data files opened and footers read by the driver-side passes. */
  private[graft] val fileOpens, footerReads = new AtomicLong

  /** A reader of `file` with the session's read options over `conf`: it
    * yields only the row groups whose statistics admit `filter` (missing
    * statistics admit it) and, through the column index, only their
    * matching pages. `footer`, the file's footer when it was already read,
    * is not read again. Parquet's default options would build a new Hadoop
    * `Configuration` for every file (10-15 ms each). Counted in
    * [[fileOpens]] (and [[footerReads]] without `footer`). */
  def openFile(conf: Configuration, file: FileStatus,
      filter: FilterCompat.Filter = FilterCompat.NOOP,
      footer: Option[ParquetMetadata] = None): ParquetFileReader = {
    val input = HadoopInputFile.fromStatus(file, conf)
    val options = HadoopReadOptions.builder(conf).withRecordFilter(filter).build()
    fileOpens.incrementAndGet()
    footer match {
      case Some(f) => ParquetFileReader.open(input, f, options, input.newStream())
      case None =>
        footerReads.incrementAndGet()
        ParquetFileReader.open(input, options)
    }
  }

  /** `reader`, a reader of `file` opened without a cached footer, once its
    * footer is in the cache. */
  private def cacheFooter(file: FileStatus, reader: ParquetFileReader): ParquetFileReader = {
    FooterCache.shared.put(file, FooterCache.Entry(reader.getFooter, None))
    reader
  }

  /** The footer of the data file `file`, from [[FooterCache]] or read and
    * cached. With [[openFile]], the file access of the driver-side reads
    * planned outside this object ([[org.apache.spark.sql.graft.DriverAggregate]]). */
  def footerOf(conf: Configuration, file: FileStatus): ParquetMetadata =
    FooterCache.shared.get(file).map(_.footer).getOrElse {
      val reader = cacheFooter(file, openFile(conf, file))
      try reader.getFooter finally reader.close()
    }

  /** A listed table: each path the table path matched with the data files
    * under it, every data file in path order, and whether the table is
    * flat: every file is a matched path or sits directly in a matched
    * directory, so Spark infers no partition column from a `k=v`
    * directory. */
  private final case class Listing(roots: Seq[(HPath, Seq[FileStatus])],
      files: Seq[FileStatus], flat: Boolean)

  /** The data files of the table at `path` in path order, by Spark's listing
    * rules: the path may be a glob; a file path is a single-file table; in a
    * directory, hidden names (`.x`, `_x` unless a `_k=v` partition) are
    * skipped, subdirectories (the `k=v` partitions) are recursed into and
    * empty files are dropped. Goes through the Hadoop `FileSystem`, so
    * remote paths list as Spark does. */
  private[raquet] def dataFiles(conf: Configuration, path: String): Seq[FileStatus] =
    listTable(conf, path).files

  private def listTable(conf: Configuration, path: String): Listing = {
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    def walk(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s).filter(_.getLen > 0)
      else fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    val tops = Option(fs.globStatus(root)).toSeq.flatten
    if (tops.isEmpty) throw new java.io.FileNotFoundException(s"path does not exist: $path")
    val roots = tops.map(t => t.getPath -> (if (t.isDirectory) walk(t) else Seq(t)))
    val files = roots.flatMap(_._2).sortBy(_.getPath.toString)
    val matched = tops.map(_.getPath).toSet
    Listing(roots, files, files.forall(f => matched(f.getPath) || matched(f.getPath.getParent)))
  }

  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")

  /** The parquet scan of the table the footer pass listed. */
  private def scan(spark: SparkSession, path: String, t: Footers): DataFrame =
    ListedFileScan(spark, path, t.listing.roots, t.schema)

  /** The data schema Spark's inference derives from this footer: its
    * row-metadata entry or the converted parquet schema, built with the
    * converter settings schema inference uses. */
  private def sparkSchema(spark: SparkSession, file: HPath, footer: ParquetMetadata): StructType = {
    val c = spark.sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = c.isParquetBinaryAsString,
        assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
        inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
        nanosAsLong = c.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation))
  }

  /** The data schema of a table of `files` (Spark's own listing) as Spark
    * infers it without schema merging, from the footer of its first data
    * file in path order, on the driver; None for a table without one. The
    * `raquet` source's schema. */
  def inferSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    files.filter(f => f.getLen > 0 && !hidden(f.getPath.getName)).sortBy(_.getPath.toString)
      .headOption.map(f => sparkSchema(spark, f.getPath, footerOf(conf, f)))
  }

  /** `metadata` of the first `block = 0` row in the row groups the reader's
    * `eq(block, 0)` filter keeps (those whose `block` statistics admit 0;
    * missing statistics admit it), reading only `block` and `metadata`. */
  private def metadataRow(reader: ParquetFileReader): Option[String] = {
    val fileSchema = reader.getFileMetaData.getSchema
    val projection = new MessageType(fileSchema.getName,
      Seq("block", "metadata").map(n => fileSchema.getType(fileSchema.getFieldIndex(n))).asJava)
    reader.setRequestedSchema(projection)
    val io = new ColumnIOFactory().getColumnIO(projection, fileSchema)
    var found: Option[String] = None
    var pages = reader.readNextFilteredRowGroup()
    while (found.isEmpty && pages != null) {
      val records = io.getRecordReader(pages, new GroupRecordConverter(projection),
        MetadataRowFilter)
      var i = 0L
      while (found.isEmpty && i < pages.getRowCount) {
        // the record filter yields null for rows it rejects
        found = Option(records.read()).map(_.getString("metadata", 0))
        i += 1
      }
      pages = reader.readNextFilteredRowGroup()
    }
    found
  }

  /** Files of the table at `path` that hold a `block = 0` row, searched as
    * the footer pass searches them. */
  private[raquet] def metadataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).filter(searchMetadata(conf, _).meta.nonEmpty)
      .map(f => Paths.get(f.getPath.toUri))
  }

  /** S1+S3: full scan, metadata row(s) excluded (`docs/engines.md:118-121`). */
  def read(spark: SparkSession, path: String): RaquetDataset = {
    val (all, meta) = open(spark, path)
    RaquetDataset(all.filter(col("block") =!= 0L), meta)
  }

  /** S4: point query — only the tile covering (lon, lat) at `zoom` (default
    * max_zoom). On a flat table without `time_cf` (one row per tile) the
    * rows are read on the driver and come back as a local relation: a
    * `select` over it is evaluated by the optimizer and collects without a
    * Spark job. Of the files whose footers are cached, only those whose
    * `block` statistics admit the cell are opened; the others are opened
    * as well and their footers enter the cache. Partitioned tables (their
    * partition column comes from the directories) and temporal ones (many
    * rows per tile) keep the scan, where sorted `block` + pushed equality
    * read a handful of pages. */
  def readAt(spark: SparkSession, path: String, lon: Double, lat: Double,
      zoom: Int = -1): RaquetDataset = {
    val t = footerPass(spark, path)
    val z = if (zoom < 0) t.meta.maxZoom else t.meta.clampZoom(zoom)
    val b = Quadbin.fromLonLat(lon, lat, z)
    val data =
      if (t.listing.flat && !t.schema.fieldNames.contains("time_cf")) {
        val filter = blockFilter(b)
        val readers = t.files.iterator.flatMap { f =>
          FooterCache.shared.get(f) match {
            case Some(e) =>
              Option.when(admits(e.footer, b))(openFile(t.conf, f, filter, Some(e.footer)))
            case None => Some(cacheFooter(f, openFile(t.conf, f, filter)))
          }
        }.map(_ -> filter)
        LocalParquetRows(spark, t.conf, t.schema, readers)
      } else scan(spark, path, t).filter(col("block") === b)
    RaquetDataset(data, t.meta)
  }

  /** OR-of-BETWEEN predicate over compacted Morton ranges. Ranges at zoom z
    * only cover zoom-z ids (zoom bits sit above the Morton bits), so no
    * residual zoom filter is needed. A balanced tree
    * ([[org.apache.spark.sql.graft.BlockRanges]]). */
  def blockRangeFilter(ranges: Array[(Long, Long)]): Column =
    Bridge.column(BlockRanges(Bridge.expression(col("block")), ranges.toSeq))

  /** S5: spatial-filter scan. `zoom` accepts an Int, "auto", "min", "max"
    * (spec `raquet.md:293-316`); `mode` is intersects/center/contains
    * (`docs/performance.md:118-126`).
    *
    * intersects-mode is exactly the compacted range predicate (pushdown only,
    * zero residual work). center/contains modes add a broadcast semi-join
    * against the exact cell set — bounded by the polyfill size, never a
    * shuffle of the fact table.
    */
  def readRegion(spark: SparkSession, path: String, wkt: String,
      zoom: String = "max", mode: String = Polyfill.Intersects): RaquetDataset = {
    val (all, meta) = open(spark, path)
    val geom = Wkt.parse(wkt)
    val z = resolveZoom(geom, meta, zoom)
    var df = all.filter(cappedExactRangeFilter(Polyfill.ranges(geom, z)))
    if (mode != Polyfill.Intersects) {
      import spark.implicits._
      val cellDf = Polyfill.cells(geom, z, mode).toSeq.toDF("cell")
      df = df.join(broadcast(cellDf), col("block") === col("cell"), "left_semi")
    }
    RaquetDataset(df, meta)
  }

  private def resolveZoom(geom: graft.geo.Geom, meta: RaquetMetadata,
      zoom: String): Int = zoom match {
    case "max" => meta.maxZoom
    case "min" => meta.minZoom
    case "auto" => autoZoom(geom, meta)
    case s => meta.clampZoom(s.toInt)
  }

  /** Exact block filter over `ranges`, pushdown-capped. Up to
    * `BlockRanges.MaxLegs` ranges it is [[blockRangeFilter]]. Past the cap the
    * parquet source stops translating filters, so a merged-span SUPERSET
    * (`BlockRanges.capped`, at most the cap's legs)
    * goes to the scan for row-group pruning, AND-ed with the exact
    * `quadbin_in_ranges` (a binary search over the plan-time span arrays). An
    * OR chain of hundreds of BETWEEN legs would exceed janino's method-size
    * limit and drop the stage out of whole-stage codegen (measured ~10x on
    * the 15 GB bench's 60,390-tile region). Never widens the row set. After
    * planning, `ShapeStableCodegen` turns the post-scan copy of either form
    * into one `quadbin_in_ranges`; the scan keeps the legs. */
  private def cappedExactRangeFilter(ranges: Array[(Long, Long)]): Column =
    if (ranges.length <= BlockRanges.MaxLegs) blockRangeFilter(ranges)
    else blockRangeFilter(BlockRanges.capped(ranges.toSeq).toArray) &&
      graft.functions.GraftFunctions.quadbin_in_ranges(col("block"), ranges)

  /** A6 stats-column fast path: per-tile stats structs for a zonal-stats
    * query, WITHOUT decoding interior tiles. The polyfill splits the cover
    * into tiles fully inside the polygon — where every pixel center is in
    * the region, so the tile's pre-aggregated `{band}_{stat}` columns (spec
    * `raquet.md:89-126`) ARE its clip stats — and boundary tiles, which
    * decode + clip by pixel runs. One scan, pruned by the whole cover's
    * ranges, reads both; each row takes the stats-column or the clip branch
    * by `quadbin_in_ranges(block, interior)`, and a `when` branch runs only
    * for its own rows, so interior blobs are read but never decoded. Decode
    * CPU therefore scales with the region PERIMETER; blob bytes do not:
    * parquet reads the blob chunk of every row group the cover's pushed
    * ranges meet, interior or not. Without stats columns the interior is
    * empty and every tile takes the clip branch. `sum_sq` on the interior
    * branch is reconstructed from mean/stddev, so the merged stddev is
    * float-reconstructed there (count/min/max/sum/mean stay exact); callers
    * needing bit-exact stddev should use the decode path.
    *
    * Returns (block, s) rows; compose with `agg(rq_stats_merge($"s"))`. */
  def regionStatsTiles(spark: SparkSession, path: String, wkt: String,
      band: String, zoom: String = "max"): DataFrame = {
    import graft.functions.GraftFunctions._
    val (base, meta) = open(spark, path)
    val geom = Wkt.parse(wkt)
    val z = resolveZoom(geom, meta, zoom)
    val (interior, boundary) =
      if (statCols(band).forall(base.columns.contains)) Polyfill.splitCover(geom, z)
      else (Array.empty[(Long, Long)], Polyfill.cells(geom, z))
    val clip = rq_clip_stats(RaquetDataset(base, meta).band(band), col("block"), meta, band, wkt)
    base.filter(cappedExactRangeFilter(Polyfill.merge(interior ++ boundary.map(c => (c, c)))))
      .select(col("block"), (if (interior.isEmpty) clip
        else when(quadbin_in_ranges(col("block"), Polyfill.merge(interior)), columnStats(band))
          .otherwise(clip)).as("s"))
  }

  private def statCols(band: String): Seq[String] =
    Seq("count", "min", "max", "sum", "mean", "stddev").map(s => s"${band}_$s")

  /** A tile's clip-stats struct from its `{band}_{stat}` columns (null when
    * the tile has no valid pixel); `sum_sq` is rebuilt from mean/stddev. */
  private def columnStats(band: String): Column = {
    def c(stat: String) = col(s"${band}_$stat")
    when(c("count") > 0L, struct(c("count").as("count"), c("min").as("min"),
      c("max").as("max"), c("sum").as("sum"),
      ((c("stddev") * c("stddev") + c("mean") * c("mean")) * c("count").cast("double"))
        .as("sum_sq"),
      c("mean").as("mean"), c("stddev").as("stddev")))
  }

  /** Many-zone generalization of [[regionStatsTiles]]: per-(zone, tile)
    * stats structs for a TABLE of zones, with interior tiles answered from
    * the pre-aggregated stats columns — no decode. The zone covers resolve
    * on the driver (`Polyfill.splitCover` per zone; the zone table is small
    * by definition, which is also what makes the (zone, cell) pairs
    * broadcastable), the raster scans ONCE behind a merged-range pruning
    * filter, and each joined row takes the stats-column or decode+clip
    * branch by its interior flag — `when` branches execute conditionally in
    * codegen, so interior rows never touch the blob. Tiles inside several
    * overlapping zones appear once per zone: membership comes from the
    * join, not a partitioner. */
  def zonalStatsFastTiles(spark: SparkSession, path: String,
      zones: Seq[(Long, String)], band: String): DataFrame = {
    import graft.functions.GraftFunctions._
    val (base, meta) = open(spark, path)
    val z = meta.maxZoom
    require(statCols(band).forall(base.columns.contains),
      s"zonalStatsFastTiles needs the $band stats columns")
    val step = 1L << (52 - 2 * z)
    val cellRows = zones.flatMap { case (id, wkt) =>
      val (intRanges, bCells) = Polyfill.splitCover(Wkt.parse(wkt), z)
      val interior = intRanges.iterator.flatMap { case (lo, hi) =>
        // consecutive cells at one zoom differ by `step`; the low mask bits
        // are all ones in both endpoints, so plain addition walks the range
        Iterator.iterate(lo)(_ + step).takeWhile(_ <= hi)
      }
      interior.map(c => (id, c, true, None: Option[String])).toSeq ++
        bCells.map(c => (id, c, false, Some(wkt)))
    }
    val pruneRanges = Polyfill.merge(cellRows.map(r => (r._2, r._2)).toArray)
    import spark.implicits._
    val cells = broadcast(cellRows.toDF("zone_id", "cell", "interior", "zwkt"))
    val ds = RaquetDataset(base, meta)
    base
      .filter(col("block") =!= 0L && cappedExactRangeFilter(pruneRanges))
      .join(cells, col("block") === col("cell"))
      .select(col("zone_id"),
        when(col("interior"), columnStats(band))
        .otherwise(rq_clip_stats_col(ds.band(band), col("block"), col("zwkt"),
          meta, band)).as("s"))
      .select(col("zone_id"), col("s"))
  }

  /** 'auto' resolution: finest zoom (clamped) where the geometry's bbox spans
    * at most ~256 tiles — large areas read coarse overviews, small areas read
    * native resolution (spec raquet.md:311-316 rationale). */
  def autoZoom(geom: graft.geo.Geom, meta: RaquetMetadata, targetTiles: Int = 256): Int = {
    val b = geom.bbox
    var z = meta.maxZoom
    while (z > meta.minZoom && estTiles(b, z) > targetTiles) z -= 1
    z
  }

  private def estTiles(b: graft.geo.BBox, z: Int): Double = {
    val n = (1L << z).toDouble
    def yf(lat: Double): Double = {
      val r = math.toRadians(math.max(-Quadbin.LatLimit, math.min(Quadbin.LatLimit, lat)))
      (1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0
    }
    val tx = (b.east - b.west) / 360.0 * n + 1.0
    val ty = (yf(b.south) - yf(b.north)) * n + 1.0
    tx * ty
  }

  /** S9 (directory form): Morton-sorted data + a separate one-row metadata
    * file with the same schema. Sorted writes are what make every later read
    * prunable; `orderBy` range-partitions so each output file covers a
    * disjoint block range (the property M4 partitioning formalizes).
    *
    * @param maxRecordsPerFile M8 size split: roll to a new file every N rows
    *        (0 = Spark default)
    * @param rowGroupBytes parquet row-group budget — smaller groups give the
    *        finer-grained remote pruning the reference tunes for with its
    *        200-row groups (`docs/performance.md:196-210`); 0 = default
    */
  /** Parquet page codec for a table whose bytes are dominated by the band
    * blobs: when the blobs are already entropy-coded (gzip/webp/jpeg),
    * parquet-level snappy cannot shrink them and costs a full extra
    * decode+copy pass on every scan — measured 4.7× slower cold-cache
    * binary-column reads on the 19 GB bench set for a 0.03% size win. Raw
    * (`compression: none`) blobs do benefit, so they keep snappy. */
  private[raquet] def pageCodec(meta: RaquetMetadata): String =
    if (meta.compression.exists(c => c != "none")) "none" else "snappy"

  def write(data: DataFrame, meta: RaquetMetadata, dir: String,
      maxRecordsPerFile: Long = 0, rowGroupBytes: Long = 0): Unit = {
    val sortNames = if (data.columns.contains("time_cf"))
      Seq("block", "time_cf") else Seq("block")
    var w = data.orderBy(sortNames.map(col): _*).write.mode("overwrite")
      .option("compression", pageCodec(meta))
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (rowGroupBytes > 0) w = w.option("parquet.block.size", rowGroupBytes)
    w.parquet(dir)
    metadataDf(data.sparkSession, data.schema, meta).write.mode("append").parquet(dir)
    // spec footer contract (raquet.md:685-695): raquet:version KV +
    // SortingColumn per row group — Spark's writer exposes neither, so the
    // footers are stamped in place (O(footer) per file)
    ParquetFooter.stampAll(dir, sortNames)
  }

  /** S9 (single-file form, small outputs / fixtures): one parquet FILE with
    * sorted data rows and the metadata row appended last, mirroring the
    * reference writer's layout (`raster2raquet.py:2265-2314`). */
  def writeSingleFile(data: DataFrame, meta: RaquetMetadata, file: String,
      rowGroupBytes: Long = 0): Unit = {
    val sortNames = if (data.columns.contains("time_cf"))
      Seq("block", "time_cf") else Seq("block")
    val sorted = data.repartition(1).sortWithinPartitions(sortNames.map(col): _*)
    // union preserves partition order; coalesce(1) concatenates them in
    // order, so the metadata row lands after the sorted data rows
    val withMeta = sorted
      .unionByName(metadataDf(data.sparkSession, data.schema, meta)).coalesce(1)
    writeOneFile(withMeta, file, file + ".tmpdir", Map("compression" -> pageCodec(meta)) ++
      (if (rowGroupBytes > 0) Map("parquet.block.size" -> rowGroupBytes.toString) else Nil))
    ParquetFooter.stamp(Paths.get(file), sortNames)
  }

  /** Write `df` as the one parquet file `file`, through the scratch
    * directory `tmp`. */
  private def writeOneFile(df: DataFrame, file: String, tmp: String,
      options: Map[String, String]): Unit = {
    df.coalesce(1).write.mode("overwrite").options(options).parquet(tmp)
    val part = ParquetFooter.parquetFiles(Paths.get(tmp)).headOption
      .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
    Files.createDirectories(Paths.get(file).toAbsolutePath.getParent)
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
    FooterCache.evict(Paths.get(file))
    deleteTree(tmp)
  }

  /** A `block = 0` metadata row in `schema`: `block`, `metadata` and the
    * `extra` columns are set, every other column is null. */
  private[raquet] def metadataRow(schema: StructType, meta: RaquetMetadata,
      extra: (String, Any)*): Row = {
    val values = Map[String, Any]("block" -> 0L, "metadata" -> RaquetMetadata.toJson(meta)) ++ extra
    Row.fromSeq(schema.fieldNames.toSeq.map(values.getOrElse(_, null)))
  }

  private def metadataDf(spark: SparkSession, schema: StructType,
      meta: RaquetMetadata): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(metadataRow(schema, meta)), schema)

  /** Recursive delete of a local path (temp trees); a missing path is a
    * no-op. */
  def deleteTree(path: String): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(rm(_)) finally children.close()
      }
      Files.deleteIfExists(p)
    }
    rm(Paths.get(path))
  }

  /** Write a standalone one-row metadata file into `dir` (the upsert
    * refresh path): same schema as the data rows, block = 0. */
  private[raquet] def writeMetadataFile(spark: SparkSession, schema: StructType,
      meta: RaquetMetadata, dir: String, name: String): Unit =
    writeOneFile(metadataDf(spark, schema, meta), s"$dir/$name.parquet", s"$dir/.meta-tmp",
      Map.empty)
}
