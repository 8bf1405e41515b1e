package rqbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.quadbin.Quadbin

/** Small helpers shared by the workloads: statistics, JSON output, parquet
  * footers and process readings. */
object Util {

  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest decile percentile that still has at least `above` samples
    * above it, capped at p90: `(90, v)` needs 100 samples, smaller runs
    * report a lower percentile under its own name. */
  def tailPercentile(xs: Seq[Double], above: Int = 10): Option[(Int, Double)] =
    (90 to 60 by -10).find(p => xs.size * (100 - p) / 100.0 >= above)
      .map(p => (p, percentile(xs, p)))

  def nowMs(): Double = System.nanoTime() / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  // --- JSON ---

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** One JSON object with `fields` in order; Scala maps and sequences nest. */
  def json(fields: Seq[(String, Any)]): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(fields: _*))

  /** The fields of a JSON object. */
  def readJson(s: String): Map[String, Any] = mapper.readValue(s, classOf[Map[String, Any]])

  // --- parquet footers ---

  /** One row group of a raquet file: its `block` min/max, rows and bytes. */
  final case class RowGroup(file: String, minBlock: Long, maxBlock: Long,
      rows: Long, bytes: Long)

  def parquetFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (Files.isRegularFile(p)) Seq(p)
    else Files.list(p).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
  }

  /** Row groups of every parquet file under `dir`, read from the footers. */
  def rowGroups(dir: String): Seq[RowGroup] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    parquetFiles(dir).flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        val st = b.getColumns.asScala.find(_.getPath.toDotString == "block")
          .getOrElse(sys.error(s"$f: no block column")).getStatistics
          .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
        RowGroup(f.getFileName.toString, st.getMin, st.getMax,
          b.getRowCount, b.getCompressedSize)
      } finally r.close()
    }
  }

  /** Row groups whose `block` min/max meets any of the inclusive ranges. */
  def matching(rgs: Seq[RowGroup], ranges: Seq[(Long, Long)]): Seq[RowGroup] =
    rgs.filter(g => ranges.exists { case (lo, hi) => g.minBlock <= hi && lo <= g.maxBlock })

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def deleteTree(dir: String): Unit = graft.raquet.RaquetIO.deleteTree(dir)

  // --- geometry ---

  /** Rectangle covering exactly tiles [x1..x2]×[y1..y2] at zoom z, inset so
    * the intersects cover picks up no neighbour tile. */
  def tileRectWkt(x1: Long, y1: Long, x2: Long, y2: Long, z: Int): String = {
    val eps = 1e-7
    val w = Quadbin.tileWest(x1, z) + eps
    val e = Quadbin.tileEast(x2, z) - eps
    val n = Quadbin.tileNorth(y1, z) - eps
    val s = Quadbin.tileSouth(y2, z) + eps
    s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"
  }

  /** Longitude/latitude of the centre of global pixel (gx, gy) at pixel
    * zoom `pz` (web-mercator tile pyramid). */
  def pixelCenter(gx: Long, gy: Long, pz: Int): (Double, Double) = {
    val n = math.pow(2.0, pz)
    val lon = (gx + 0.5) / n * 360.0 - 180.0
    val lat = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * (gy + 0.5) / n))))
    (lon, lat)
  }

  // --- process readings ---

  /** Wait until the JIT compilers have been idle for half a second (their
    * total compilation time grew by under 10 ms), at most `maxS` seconds, so a
    * backlog queued by the warm-up is compiled before the timed window
    * rather than during it. Returns the seconds waited. */
  def awaitJitQuiet(maxS: Double = 15): Double = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = nowMs()
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && nowMs() - t0 < maxS * 1000) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
    (nowMs() - t0) / 1e3
  }

  private def statusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.substring(key.length + 1).trim.split("\\s+")(0).toDouble }
      .getOrElse(Double.NaN)

  /** Peak resident set size of this process (VmHWM), MB. */
  def rssPeakMb(): Double = statusKb("VmHWM") / 1024.0

  /** Sum of the heap pools' peak usage since the last reset, MB. */
  def heapPeakMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
  }

  /** Reset this process's VmHWM to its current RSS (Linux `clear_refs`);
    * false where the kernel refuses. */
  def resetRssPeak(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: java.io.IOException => false }

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
}
