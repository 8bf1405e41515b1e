package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.{CfTime, Maintenance, Multimodal, PixelCodec, RaquetIO}

class MaintenanceSpec extends SparkSpec {

  val fixture = "src/test/resources/raquet/gradient16.parquet"
  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft").toString

  test("validate passes every check on the fixture") {
    val report = Maintenance.validate(spark, fixture).collect()
    assert(report.nonEmpty)
    val failed = report.filterNot(_.getBoolean(1)).map(r => r.getString(0) + ": " + r.getString(2))
    assert(failed.isEmpty, failed.mkString("; "))
    val names = report.map(_.getString(0)).toSet
    assert(names.contains("decode_band_1") && names.contains("pyramid_parents"))
  }

  test("inspect reports the metadata + per-zoom tile counts") {
    val row = Maintenance.inspect(spark, fixture).collect()(0)
    assert(row.getAs[String]("version") == "0.5.0")
    assert(row.getAs[Long]("num_blocks") == 64L)
    assert(row.getAs[String]("tiles_per_zoom") == "z3=1,z4=4,z5=16,z6=64")
  }

  test("splitZoom writes a standalone valid raquet dataset per zoom") {
    val out = tmpDir() + "/split"
    Maintenance.splitZoom(spark, fixture, out)
    for (z <- 3 to 6) {
      val ds = RaquetIO.read(spark, s"$out/z=$z")
      assert(ds.meta.minZoom == z && ds.meta.maxZoom == z)
      val n = ds.data.count()
      assert(n == ds.meta.numBlocks)
      assert(ds.data.filter(quadbin_zoom(col("block")) =!= z).count() == 0)
    }
  }

  test("partition writes ancestor-keyed dirs, each sorted with its own metadata") {
    val out = tmpDir() + "/part"
    Maintenance.partition(spark, fixture, out, partZoom = 4)
    // 64 native tiles at z6 → 4 ancestors at z4
    val all = spark.read.parquet(out)
    assert(all.select("part").distinct().count() == 4)
    // whole-directory read: spec says dedupe metadata rows; data rows intact
    assert(all.filter(col("block") =!= 0L).count() == 64)
    assert(all.filter(col("block") === 0L).count() == 4)
    // each partition: standalone metadata with per-partition num_blocks
    val onePart = all.filter(col("block") === 0L).limit(1).select("metadata")
      .collect()(0).getString(0)
    assert(graft.raquet.RaquetMetadata.parse(onePart).numBlocks == 16)
  }

  test("partitioned layout prunes on part and every file is Morton-sorted") {
    import scala.jdk.CollectionConverters._
    val out = tmpDir() + "/part_prune"
    Maintenance.partition(spark, fixture, out, partZoom = 4)
    val all = spark.read.parquet(out)
    val onePart = all.select("part").distinct().orderBy("part")
      .collect()(0).getLong(0)
    val q = all.filter(col("part") === onePart && col("block") =!= 0L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(onePart.toString),
      s"no partition pruning in plan:\n$plan")
    assert(q.count() == 16) // one zoom-4 ancestor = 16 native tiles
    // per-file Morton order: block=0 metadata row first, then ascending
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("part=")).toSeq
    assert(dirs.size == 4)
    dirs.foreach { d =>
      val blocks = spark.read.parquet(d.toString).coalesce(1)
        .select("block").collect().map(_.getLong(0))
      assert(blocks.sameElements(blocks.sorted), s"not Morton-sorted: $d")
    }
  }

  test("auto partition zoom follows the log4 sizing rule") {
    val ds = RaquetIO.read(spark, fixture)
    // tiny target → stay at native zoom; huge target → clamp to 0
    assert(Maintenance.autoPartitionZoom(ds, 1L) == 6)
    assert(Maintenance.autoPartitionZoom(ds, 1L << 40) == 0)
  }

  test("upsert: replaces + inserts by key, rewrites ONLY overlapping files") {
    val dir = tmpDir() + "/ds"
    val ds = RaquetIO.read(spark, fixture)
    RaquetIO.write(ds.data, ds.meta, dir, maxRecordsPerFile = 16)
    def files(): Map[String, Array[Byte]] = {
      val d = new java.io.File(dir)
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    }
    val before = files()
    assert(before.size >= 5, s"need a multi-file layout, got ${before.size}")
    import graft.quadbin.Quadbin
    val cSrc = Quadbin.tileToCell(39, 31, 6)
    val cDst = Quadbin.tileToCell(32, 24, 6) // exists → replace
    val cNew = Quadbin.tileToCell(41, 26, 6) // absent → insert
    val d0 = RaquetIO.read(spark, dir).data
    val updates = d0.filter(col("block") === cSrc).withColumn("block", lit(cDst))
      .unionByName(d0.filter(col("block") === cSrc).withColumn("block", lit(cNew)))
    val rep = Maintenance.upsert(spark, dir, updates)
    assert(rep.rowsReplaced == 1 && rep.rowsInserted == 1, rep.toString)
    assert(rep.filesRewritten >= 1 && rep.filesRewritten < rep.filesTotal, rep.toString)
    val after = files()
    // every surviving original file is byte-identical
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty)
    survivors.foreach { f =>
      assert(java.util.Arrays.equals(before(f), after(f)), s"$f changed bytes")
    }
    // content: replaced tile now carries the source tile's blobs; insert present
    val d2 = RaquetIO.read(spark, dir)
    assert(d2.meta.numBlocks == ds.meta.numBlocks + 1)
    val rows = d2.data.filter(col("block").isin(cDst, cNew, cSrc))
      .select(col("block"), col("band_1")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(rows.size == 3)
    assert(java.util.Arrays.equals(rows(cDst), rows(cSrc)))
    assert(java.util.Arrays.equals(rows(cNew), rows(cSrc)))
    // total row count: one insert over the original
    assert(d2.data.count() == ds.data.count() + 1)
    // idempotent re-upsert of the same content replaces, inserts nothing
    // (updates built from the CURRENT files — the originals are gone)
    val rep2 = Maintenance.upsert(spark, dir,
      d2.data.filter(col("block") === cSrc).withColumn("block", lit(cDst)))
    assert(rep2.rowsReplaced == 1 && rep2.rowsInserted == 0)
    assert(RaquetIO.read(spark, dir).meta.numBlocks == ds.meta.numBlocks + 1)
  }

  test("upsert keeps the data rows of an untouched file that also holds the metadata row") {
    import graft.quadbin.Quadbin
    // the reference writer's layout: one file, data rows then the metadata row
    val dir = tmpDir() + "/single"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture),
      java.nio.file.Paths.get(dir, "gradient16.parquet"))
    def tiles(path: String) = spark.read.parquet(path).filter(col("block") =!= 0L)
      .select(col("block"), col("band_1")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val before = tiles(fixture)
    assert(before.size == 85)
    // a native tile past the file's block range, so no range touches the file
    val cNew = Quadbin.tileToCell(60, 60, 6)
    assert(cNew > before.keys.max)
    val rep = Maintenance.upsert(spark, dir, spark.read.parquet(fixture)
      .filter(col("block") === Quadbin.tileToCell(39, 31, 6)).withColumn("block", lit(cNew)))
    assert(rep.rowsInserted == 1, rep.toString)
    val after = tiles(dir)
    assert(after.size == 86 && after - cNew == before)
    assert(spark.read.parquet(dir).filter(col("block") === 0L).count() == 1)
    assert(RaquetIO.readMetadata(spark, dir).numBlocks == 65)
  }

  test("upsert replaces the metadata row of a table whose footers carry no block statistics") {
    import graft.quadbin.Quadbin
    val dir = tmpDir() + "/nostats"
    val all = spark.read.parquet(fixture)
    // data files, then the metadata row in a file of its own, all without statistics
    for ((rows, mode) <- Seq(all.filter(col("block") =!= 0L) -> "overwrite",
        all.filter(col("block") === 0L) -> "append"))
      rows.write.mode(mode).option("parquet.column.statistics.enabled", "false").parquet(dir)
    val cSrc = Quadbin.tileToCell(39, 31, 6)
    val rep = Maintenance.upsert(spark, dir, RaquetIO.read(spark, dir).data
      .filter(col("block") === cSrc).withColumn("block", lit(Quadbin.tileToCell(41, 26, 6))))
    assert(rep.rowsInserted == 1, rep.toString)
    assert(spark.read.parquet(dir).filter(col("block") === 0L).count() == 1)
    assert(RaquetIO.readMetadata(spark, dir).numBlocks == 65)
  }

  test("upsertWithPyramid: refreshes exactly the changed ancestors; rejects bad input") {
    val dir = tmpDir() + "/pyds"
    val ds = RaquetIO.read(spark, fixture)
    RaquetIO.write(ds.data, ds.meta, dir, maxRecordsPerFile = 16)
    import graft.quadbin.Quadbin
    import graft.functions.GraftFunctions._
    val cSrc = Quadbin.tileToCell(39, 31, 6)
    val cDst = Quadbin.tileToCell(32, 24, 6)
    val d0 = RaquetIO.read(spark, dir).data
    // overview rows in updates must be rejected — overviews are derived
    val eZ = intercept[IllegalArgumentException] {
      Maintenance.upsertWithPyramid(spark, dir,
        d0.filter(quadbin_zoom(col("block")) === 5).limit(1))
    }
    assert(eZ.getMessage.contains("native-zoom"))
    // one-tile content change: its 3 ancestors (z5, z4, z3) must change,
    // every other overview must stay byte-equal in content
    val beforeOv = RaquetIO.read(spark, dir).data
      .filter(quadbin_zoom(col("block")) < 6)
      .select(col("block"), mm_u8_sum(rq_inflate(col("band_2"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rep = Maintenance.upsertWithPyramid(spark, dir,
      d0.filter(col("block") === cSrc).withColumn("block", lit(cDst)))
    assert(rep.rowsReplaced == 1 && rep.rowsInserted == 0, rep.toString)
    val afterOv = RaquetIO.read(spark, dir).data
      .filter(quadbin_zoom(col("block")) < 6)
      .select(col("block"), mm_u8_sum(rq_inflate(col("band_2"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterOv.keySet == beforeOv.keySet)
    val expectChanged = Set(
      Quadbin.tileToCell(16, 12, 5), Quadbin.tileToCell(8, 6, 4),
      Quadbin.tileToCell(4, 3, 3))
    val changed = afterOv.filter { case (b, s) => beforeOv(b) != s }.keySet
    assert(changed == expectChanged,
      s"changed=$changed expected=$expectChanged")
  }

  test("CF units parse + ISO duration inference mirror the reference") {
    val info = CfTime.parseUnits("Minutes since 1980-01-01 00:00:00").get
    assert(info.unit == "minutes")
    assert(CfTime.parseUnits("day since 2000-01-01").get.unit == "days")
    assert(CfTime.parseUnits("fortnights hence 2000-01-01").isEmpty)
    assert(CfTime.toIsoDuration("minutes", Seq(0.0, 60.0, 120.0)).contains("PT1H"))
    assert(CfTime.toIsoDuration("days", Seq(0.0, 30.0, 60.0)).contains("P1M"))
    assert(CfTime.toIsoDuration("days", Seq(0.0, 3.0, 40.0)).isEmpty)
    // 360_day calendar → no timestamp
    assert(CfTime.parseUnits("days since 2000-01-01", "360_day").get
      .toEpochMicros(5.0) == Long.MinValue)
  }

  test("JPEG round-trip: gray and rgb encode/decode with bounded lossy error") {
    val w = 32; val h = 32
    val gray = Array.tabulate(w * h)(i => ((i * 7) % 256).toByte)
    val jpeg = Multimodal.encodeJpeg(gray, w, h, 1, quality = 95)
    val img = Multimodal.decodeImage(jpeg)
    assert(img.width == w && img.height == h && img.channels == 1)
    val maxErr = gray.zip(img.pixels).map { case (a, b) =>
      math.abs((a & 0xFF) - (b & 0xFF)) }.max
    assert(maxErr <= 40, s"jpeg error too large: $maxErr")

    val rgb = Array.tabulate(w * h * 3)(i => ((i * 11) % 256).toByte)
    val jr = Multimodal.encodeJpeg(rgb, w, h, 3, quality = 95)
    val ir = Multimodal.decodeImage(jr)
    assert(ir.width == w && ir.channels == 3)
  }

  test("BIP interleave/deinterleave round-trips and matches the expression") {
    val b1 = Array.tabulate(16)(i => i.toByte)
    val b2 = Array.tabulate(16)(i => (100 + i).toByte)
    val inter = Multimodal.interleave(Array(b1, b2), 1)
    assert(Multimodal.deinterleave(inter, 0, 2, 1).toSeq == b1.toSeq)
    assert(Multimodal.deinterleave(inter, 1, 2, 1).toSeq == b2.toSeq)
    import spark.implicits._
    val df = Seq(Tuple1(inter)).toDF("px")
    val got = df.select(mm_deinterleave(col("px"), 1, 2).as("b")).collect()(0)
      .getAs[Array[Byte]](0)
    assert(got.toSeq == b2.toSeq)
  }

  test("mm_image_stats decodes a real JPEG inside a query") {
    val gray = Array.fill(64 * 64)(200.toByte)
    val jpeg = Multimodal.encodeJpeg(gray, 64, 64, 1, quality = 95)
    import spark.implicits._
    val r = Seq(Tuple1(jpeg)).toDF("img")
      .select(mm_image_stats(col("img")).as("s"))
      .select("s.width", "s.height", "s.channels", "s.mean").collect()(0)
    assert(r.getInt(0) == 64 && r.getInt(1) == 64 && r.getInt(2) == 1)
    assert(math.abs(r.getDouble(3) - 200.0) < 3.0)
  }

  test("interleaved JPEG dataset: write, read, band-extract within lossy tolerance") {
    val out = tmpDir() + "/jpeg.parquet"
    graft.raquet.FixtureGen.writeGradient16Jpeg(spark, out)
    val ds = RaquetIO.read(spark, out)
    assert(ds.meta.bandLayout == "interleaved")
    assert(ds.meta.compression.contains("jpeg"))
    assert(ds.data.count() == 64)
    // mean of band_2 across one tile vs the exact formula mean (JPEG lossy)
    val got = ds.data
      .filter(col("block") === graft.quadbin.Quadbin.tileToCell(32, 24, 6))
      .select(rq_summary_stats(ds.band("band_2"), ds.meta, "band_2").as("s"))
      .select("s.mean", "s.count").collect()(0)
    assert(got.getLong(1) == 256)
    var exact = 0.0
    for (j <- 0 until 16; i <- 0 until 16)
      exact += graft.raquet.FixtureGen.v3(2, 32 * 16 + i, 24 * 16 + j)
    assert(math.abs(got.getDouble(0) - exact / 256) < 20.0,
      s"jpeg band mean drifted: got ${got.getDouble(0)} want ~${exact / 256}")
  }

  test("interleaved webp-lossless dataset: write, read, band-extract EXACTLY") {
    val out = tmpDir() + "/webp.parquet"
    graft.raquet.FixtureGen.writeGradient16WebP(spark, out)
    val ds = RaquetIO.read(spark, out)
    assert(ds.meta.compression.contains("webp"))
    assert(ds.data.count() == 64)
    // VP8L is lossless: every decoded pixel equals the formula, bit-exact
    // (the JPEG twin above needs a ±20 tolerance)
    val got = ds.data
      .filter(col("block") === graft.quadbin.Quadbin.tileToCell(32, 24, 6))
      .select(rq_decode(ds.band("band_2"), ds.meta, "band_2").as("px"))
      .collect()(0).getSeq[Double](0)
    for (j <- 0 until 16; i <- 0 until 16)
      assert(got(j * 16 + i) == graft.raquet.FixtureGen.v3(2, 32 * 16 + i, 24 * 16 + j),
        s"pixel ($i,$j)")
  }

  test("lossy VP8 webp decodes through the multimodal path (F8 complete)") {
    // a real libwebp-encoded lossy container through Multimodal.decodeWebP —
    // bit-exact conformance lives in Vp8Spec; this pins the routing
    val webp = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/webp/vp8_16x16_q80.webp"))
    val px = graft.raquet.Multimodal.decodeWebP(webp, 3)
    val golden = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/webp/vp8_16x16_q80.rgb"))
    assert(px.toSeq == golden.toSeq)
    // truncated/garbage VP8 payloads still fail loudly
    val bos = new java.io.ByteArrayOutputStream()
    def put4(s: String): Unit = s.foreach(c => bos.write(c.toInt))
    def putU32(v: Int): Unit = (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xFF))
    put4("RIFF"); putU32(4 + 8 + 4); put4("WEBP"); put4("VP8 "); putU32(4)
    bos.write(Array[Byte](0, 0, 0, 0))
    intercept[IllegalArgumentException](
      graft.raquet.Multimodal.decodeWebP(bos.toByteArray, 3))
  }

  test("stats scale-up multiplies counts/sums by 4^dz (A4)") {
    val s0 = Array(100.0, 1.0, 9.0, 500.0, 3000.0)
    val s2 = PixelCodec.scaleStats(s0, 2)
    assert(s2.toSeq == Seq(1600.0, 1.0, 9.0, 8000.0, 48000.0))
    assert(PixelCodec.statsMean(s2) == PixelCodec.statsMean(s0))
    assert(PixelCodec.statsStddev(s2) == PixelCodec.statsStddev(s0))
  }

  test("gzip codec round-trips through the inflate expression") {
    val data = Array.tabulate(256)(i => (i % 251).toByte)
    val gz = PixelCodec.gzipCompress(data)
    import spark.implicits._
    val out = Seq(Tuple1(gz)).toDF("b")
      .select(rq_inflate(col("b"))).collect()(0).getAs[Array[Byte]](0)
    assert(out.toSeq == data.toSeq)
  }
}
