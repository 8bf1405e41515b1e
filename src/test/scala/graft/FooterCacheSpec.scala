package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructType}

import graft.quadbin.Quadbin
import graft.raquet.{FooterCache, Maintenance, ParquetFooter, RaquetIO}

/** The process-wide footer cache behind `RaquetIO`'s footer pass: repeated
  * opens of an unchanged table read no footer, a warm point read opens only
  * the files whose `block` statistics admit the cell, every change to the
  * table's files is seen by the next open, and the cache stays within its
  * byte bound. */
class FooterCacheSpec extends SparkSpec {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"
  private val bip = "src/test/resources/raquet/gradient16_bip.parquet"

  private def tmpDir(): String = Files.createTempDirectory("rq-cache").toString

  /** `body`'s result, and the footers read and data files opened by the
    * driver-side passes during it. */
  private def counted[A](body: => A): (A, Long, Long) = {
    val (reads, opens) = (RaquetIO.footerReads.get, RaquetIO.fileOpens.get)
    val a = body
    (a, RaquetIO.footerReads.get - reads, RaquetIO.fileOpens.get - opens)
  }

  /** gradient16 rewritten by the directory writer into 16-row files. */
  private def written(): String = {
    val dir = tmpDir() + "/written"
    val src = RaquetIO.read(spark, fixture)
    RaquetIO.write(src.data, src.meta, dir, maxRecordsPerFile = 16)
    dir
  }

  private def pointIn(cell: Long): (Double, Double) = {
    val b = Quadbin.cellBounds(cell)
    (b(0) + (b(2) - b(0)) * 0.37, b(1) + (b(3) - b(1)) * 0.61)
  }

  private def blocksAt(path: String, cell: Long): Seq[Long] = {
    val (lon, lat) = pointIn(cell)
    RaquetIO.readAt(spark, path, lon, lat, Quadbin.zoom(cell)).data
      .select("block").collect().map(_.getLong(0)).toSeq
  }

  private def blocks(df: DataFrame): Set[Long] =
    df.select("block").collect().map(_.getLong(0)).toSet

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  /** Each row group's `block` (min, max), read apart from `RaquetIO`. */
  private def blockRanges(file: java.nio.file.Path): Seq[(Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file.toUri), conf))
    try reader.getFooter.getBlocks.asScala.toSeq.map { g =>
      val s = g.getColumns.asScala.find(_.getPath.toDotString == "block").get.getStatistics
      (s.genericGetMin.asInstanceOf[Long], s.genericGetMax.asInstanceOf[Long])
    } finally reader.close()
  }

  test("a repeated readMetadata, read or readAt of an unchanged table reads no footer") {
    val dir = written()
    val tile = Quadbin.tileToCell(35, 27, 6)
    val (lon, lat) = pointIn(tile)
    for (path <- Seq(fixture, dir, s"$dir/part-*")) {
      val ops = Seq[(String, () => Any)](
        "readMetadata" -> (() => RaquetIO.readMetadata(spark, path)),
        "read" -> (() => RaquetIO.read(spark, path)),
        "readAt" -> (() => RaquetIO.readAt(spark, path, lon, lat)))
      for ((name, op) <- ops) {
        op()
        assert(counted(op())._2 == 0, s"$name($path)")
      }
    }
    // the counter counts: a table never opened before reads its footers
    assert(counted(RaquetIO.readMetadata(spark, written()))._2 > 0)
  }

  test("a warm point read opens exactly the files whose block statistics admit the cell") {
    val dir = written()
    val files = parquetFiles(dir)
    assert(files.length > 3)
    val ranges = files.map(blockRanges)
    val tiles = RaquetIO.read(spark, dir).data.select("block").collect().map(_.getLong(0))
    RaquetIO.readAt(spark, dir, 0.0, 0.0)
    for (cell <- tiles.sorted.grouped(7).map(_.head).toSeq :+ Quadbin.fromLonLat(-120, -40, 6)) {
      val admitting = ranges.count(_.exists { case (lo, hi) => lo <= cell && cell <= hi })
      val (got, reads, opens) = counted(blocksAt(dir, cell))
      assert(reads == 0 && opens == admitting, s"$cell: $reads footers, $opens of $admitting files")
      assert(got == (if (tiles.contains(cell)) Seq(cell) else Nil), s"$cell")
    }
    assert(tiles.forall(c => ranges.count(_.exists { case (lo, hi) => lo <= c && c <= hi }) == 1))
  }

  test("a footer without block statistics still admits its file for the point read") {
    val dir = tmpDir() + "/nostats"
    spark.read.parquet(fixture).repartition(3).write
      .option("parquet.column.statistics.enabled", "false").parquet(dir)
    val files = parquetFiles(dir)
    assert(files.length == 3)
    val cells = Seq(Quadbin.tileToCell(32, 24, 6), Quadbin.tileToCell(39, 31, 6),
      Quadbin.tileToCell(4, 3, 3))
    cells.foreach(blocksAt(dir, _))
    for (cell <- cells) {
      val (got, reads, opens) = counted(blocksAt(dir, cell))
      assert(got == Seq(cell) && reads == 0 && opens >= files.length, s"$cell: $opens opens")
    }
  }

  test("the next open sees an overwrite, a compaction, an upsert and a deleted file") {
    val dir = written()
    val src = RaquetIO.read(spark, fixture)
    val all = blocks(src.data)
    val kept = Quadbin.tileToCell(33, 25, 6)
    val dropped = Quadbin.tileToCell(38, 30, 6)
    RaquetIO.readAt(spark, dir, 0.0, 0.0)

    // overwrite: fewer tiles, new metadata
    val subset = src.data.filter(col("block") =!= dropped)
    RaquetIO.write(subset, src.meta.copy(numBlocks = 7), dir, maxRecordsPerFile = 16)
    assert(RaquetIO.readMetadata(spark, dir).numBlocks == 7)
    assert(blocks(RaquetIO.read(spark, dir).data) == all - dropped)
    assert(blocksAt(dir, dropped).isEmpty && blocksAt(dir, kept) == Seq(kept))

    // compaction: other files, same rows and metadata
    val before = parquetFiles(dir)
    Maintenance.compact(spark, dir)
    assert(parquetFiles(dir).toSet.intersect(before.toSet).isEmpty)
    assert(RaquetIO.readMetadata(spark, dir).numBlocks == 7)
    assert(blocks(RaquetIO.read(spark, dir).data) == all - dropped)
    assert(blocksAt(dir, kept) == Seq(kept))

    // upsert: the dropped tile comes back, num_blocks counts it
    Maintenance.upsert(spark, dir, src.data.filter(col("block") === dropped))
    assert(RaquetIO.readMetadata(spark, dir).numBlocks == 8)
    assert(blocks(RaquetIO.read(spark, dir).data) == all)
    assert(blocksAt(dir, dropped) == Seq(dropped))

    // a deleted data file: its tiles are gone from every read
    val victim = parquetFiles(dir).find(f => blockRanges(f).exists(_._2 > 0)).get
    val lost = blocks(spark.read.parquet(victim.toString)) - 0L
    assert(lost.nonEmpty)
    Files.delete(victim)
    assert(blocks(RaquetIO.read(spark, dir).data) == all -- lost)
    assert(blocksAt(dir, lost.head).isEmpty)
  }

  test("the next open sees a file replaced in place, and an in-place footer stamp") {
    val file = Paths.get(tmpDir(), "table.parquet")
    Files.copy(Paths.get(fixture), file)
    assert(RaquetIO.readMetadata(spark, file.toString).bandLayout == "sequential")
    Files.copy(Paths.get(bip), file, StandardCopyOption.REPLACE_EXISTING)
    assert(RaquetIO.readMetadata(spark, file.toString).bandLayout == "interleaved")

    // two same-length stamps of the Spark schema entry, the second one with
    // the first one's modification time: only the stamp's eviction tells
    // the two versions apart
    val key = "org.apache.spark.sql.parquet.row.metadata"
    val schema = DataType.fromJson(ParquetFooter.keyValue(file, key).get).asInstanceOf[StructType]
    def stampComment(c: String): Unit = ParquetFooter.stampKeyValue(file, key,
      StructType(schema.map(f => if (f.name != "block") f
        else f.copy(metadata = new MetadataBuilder().putString("comment", c).build()))).json)
    def comment(): Metadata = RaquetIO.read(spark, file.toString).data.schema("block").metadata
    stampComment("a")
    assert(comment().getString("comment") == "a")
    val (length, modified) = (Files.size(file), Files.getLastModifiedTime(file))
    stampComment("b")
    Files.setLastModifiedTime(file, modified)
    assert(Files.size(file) == length)
    assert(comment().getString("comment") == "b")
  }

  test("past its bound the cache evicts the least recently used footers") {
    val dir = written()
    val conf = spark.sessionState.newHadoopConf()
    val root = new HPath(dir)
    val read = root.getFileSystem(conf).listStatus(root).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.toString).map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try s -> FooterCache.Entry(reader.getFooter, None) finally reader.close()
      }
    // four data files whose footers weigh the same, in a cache that holds
    // exactly three of them
    val (weight, sameWeight) = read
      .groupBy { case (s, e) => FooterCache.weight(FooterCache.Key(s), e) }.maxBy(_._2.length)
    val (statuses, entries) = sameWeight.take(4).unzip
    assert(statuses.length == 4)
    val cache = new FooterCache(3L * weight)
    statuses.zip(entries).take(3).foreach { case (s, e) => cache.put(s, e) }
    assert(cache.bytes == cache.maxBytes)
    assert(statuses.take(3).forall(cache.get(_).nonEmpty))
    cache.get(statuses.head)
    cache.put(statuses(3), entries(3))
    assert(cache.bytes == cache.maxBytes)
    assert(statuses.map(cache.get(_).nonEmpty) == Seq(true, false, true, true))
    assert(FooterCache.shared.maxBytes == FooterCache.MaxBytes)
  }
}
