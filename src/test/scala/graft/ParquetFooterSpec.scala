package graft

import java.nio.file.Paths

import graft.raquet.{ParquetFooter, RaquetIO}

/** Spec footer contract (raquet.md:685-695): the writer stamps
  * `raquet:version` + per-row-group SortingColumn, the stamp is idempotent,
  * and the rewritten file stays readable by both our reader and Spark.
  * DuckDB visibility is proven end-to-end by q144's oracle. */
class ParquetFooterSpec extends SparkSpec {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"

  test("writeSingleFile stamps version KV and block sorting on every row group") {
    val out = java.nio.file.Files.createTempDirectory("footer").toString + "/f.parquet"
    val src = RaquetIO.read(spark, fixture)
    // small row groups force a multi-group file: every group must declare
    RaquetIO.writeSingleFile(src.data, src.meta, out, rowGroupBytes = 64 << 10)
    val (version, nRgs, nSorted) = ParquetFooter.inspect(Paths.get(out))
    assert(version.contains(ParquetFooter.Version))
    assert(nRgs >= 1 && nSorted == nRgs, s"rgs=$nRgs sorted=$nSorted")
    val back = RaquetIO.read(spark, out)
    assert(back.data.count() == src.data.count())
  }

  test("stamp is idempotent and preserves content") {
    val out = java.nio.file.Files.createTempDirectory("footer").toString + "/g.parquet"
    val src = RaquetIO.read(spark, fixture)
    RaquetIO.writeSingleFile(src.data, src.meta, out)
    val before = ParquetFooter.inspect(Paths.get(out))
    ParquetFooter.stamp(Paths.get(out))
    ParquetFooter.stamp(Paths.get(out))
    assert(ParquetFooter.inspect(Paths.get(out)) == before)
    val n = spark.read.parquet(out).count()
    assert(n == src.data.count() + 1) // data rows + metadata row
  }

  test("directory write stamps every part file") {
    val out = java.nio.file.Files.createTempDirectory("footer").toString + "/d"
    val src = RaquetIO.read(spark, fixture)
    RaquetIO.write(src.data, src.meta, out, maxRecordsPerFile = 16)
    val parts = ParquetFooter.parquetFiles(Paths.get(out))
    parts.foreach { p =>
      val (v, rgs, sorted) = ParquetFooter.inspect(p)
      assert(v.contains(ParquetFooter.Version), s"$p missing version KV")
      assert(sorted == rgs, s"$p rgs=$rgs sorted=$sorted")
    }
    assert(parts.size >= 3) // split data files + metadata file
  }

  test("a directory write leaves no descriptor open under the table directory") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "no /proc/self/fd to inspect")
    val dir = java.nio.file.Files.createTempDirectory("footer-fd").toRealPath()
    val src = RaquetIO.read(spark, fixture)
    RaquetIO.write(src.data, src.meta, dir.resolve("d").toString, maxRecordsPerFile = 16)
    val open = fds.listFiles().toSeq.flatMap { fd =>
      try Some(java.nio.file.Files.readSymbolicLink(fd.toPath))
      catch { case _: java.io.IOException => None } // closed since the listing
    }.filter(_.startsWith(dir))
    assert(open.isEmpty, s"descriptors left open: ${open.mkString(", ")}")
  }

  test("a lying footer length fails by name before it sizes a read") {
    val src = java.nio.file.Files.readAllBytes(Paths.get(fixture))
    // one length past the file's start, one with the top bit set (negative
    // as a signed int)
    Seq(src.length.toLong + 100L, 0xFFFFFFF0L).foreach { lie =>
      val f = java.nio.file.Files.createTempFile("footer", ".parquet")
      val bytes = src.clone()
      val at = bytes.length - 8
      (0 until 4).foreach(i => bytes(at + i) = ((lie >> (8 * i)) & 0xFF).toByte)
      java.nio.file.Files.write(f, bytes)
      val calls: Seq[() => Any] = Seq(() => ParquetFooter.inspect(f),
        () => ParquetFooter.keyValue(f, "geo"), () => ParquetFooter.stamp(f))
      calls.foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"footer length $lie out of range"), e.getMessage)
      }
    }
  }
}
