package rqbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.geo.Wkt
import graft.quadbin.{Polyfill, Quadbin}
import graft.raquet.{BandKernel, GeoTiff, Maintenance, RaquetIO}

/** What one op did, beyond its latency: its verdict and the work it
  * covered, which the traced run turns into per-layer readings. */
final case class Outcome(ok: Boolean, detail: String, tilesUsed: Long = 0,
    tilesDecoded: Long = 0, ranges: Seq[(Long, Long)] = Nil,
    parts: Seq[(String, Double)] = Nil)

/** One op's phases. Untraced, a phase is the bare call; traced, it is a
  * span whose Spark jobs are attributed to it. Both modes run the same
  * engine calls, so their latencies compare. */
final class OpCtx(trace: Option[Trace], val opSpan: Long) {
  /** Span id → phase name of every phase this op ran. */
  val phaseIds = mutable.Map.empty[Long, String]
  val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Per-layer readings of this op, summed over its queries. */
  val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def traced: Boolean = trace.isDefined

  def phase[T](name: String)(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val (r, s) = t.span(name, opSpan)(_ => body)
      phaseIds(s.id) = name
      phaseMs(name) += s.endMs - s.startMs
      r
  }

  /** Plan a query in its own phase (the later collect reuses the plan). */
  def plan(df: DataFrame): Unit = {
    val p = phase("plan")(df.queryExecution.executedPlan)
    if (traced) layer("plan.pushed_range_legs") += Workload.pushedBlockLegs(p)
  }
}

/** A workload over the seed's slope table: three op kinds (its `op1`..`op3`
  * slots), a seed-shuffled schedule of rounds, and a correctness oracle
  * for every op. */
abstract class Workload(fixtureDir: String, seed: Long) {
  def kinds: IndexedSeq[String]
  /** Untimed rounds before the timed window: enough that no kind's
    * latency is still falling when it starts. */
  def warmupRounds: Int
  /** Kinds of the next round, in order. */
  def round(rnd: java.util.Random): Seq[Int] = new scala.util.Random(rnd).shuffle(Seq(0, 1, 2))
  def run(spark: SparkSession, kind: Int, rnd: java.util.Random, ctx: OpCtx): Outcome
  /** Traced runs only: readings taken outside the op's timed window. */
  def probe(spark: SparkSession, kind: Int, out: Outcome, ctx: OpCtx): Unit =
    Workload.metaTimed(spark, fx.dir, ctx)

  val fx: Fixtures.Slope = Fixtures.slope(fixtureDir, seed)
  /** The write probe's source, written alongside the table. */
  val tci: Fixtures.Tci = Fixtures.tci(fixtureDir, seed)
  def marker: String = fx.dir + ".ok"
  /** Row groups of the table, from its footers. */
  var tableRowGroups: Seq[Util.RowGroup] = Nil

  /** Write this seed's inputs if the fixture directory lacks them; the
    * session is only started when the writer needs one. */
  def prepare(spark: () => SparkSession): Unit = {
    Workload.ensureFixtureMarker(tci.path + ".ok") {
      Seq("write_s" -> Fixtures.writeTci(tci))
    }
    Workload.ensureFixtureMarker(marker) {
      val s = Fixtures.writeSlope(spark(), fx)
      val (files, groups, mb) = Workload.footerRecord(fx.dir)
      Seq("write_s" -> s, "files" -> files, "row_groups" -> groups, "mb" -> mb)
    }
  }

  /** The user-visible first read of the inputs, part of every set-up. */
  def touch(spark: SparkSession): Unit = RaquetIO.readMetadata(spark, fx.dir)

  /** Untimed per-run preparation: oracles, footers. */
  def open(spark: SparkSession): Unit = {
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      s"fixture missing: $marker")
    tableRowGroups = Util.rowGroups(fx.dir)
  }

  def fixtureRecord: Seq[(String, Any)] = {
    val m = Util.readJson(java.nio.file.Files.readString(java.nio.file.Paths.get(marker)))
    m.toSeq.sortBy(_._1).map { case (k, v) => s"fixture.$k" -> v } ++ Seq(
      "fixture.variant" -> Fixtures.variant(seed),
      "fixture.native_tiles" -> fx.nativeTiles, "fixture.x0" -> fx.x0,
      "fixture.y0" -> fx.y0)
  }

  /** Blobs + kernel for the single-thread codec/kernel microbenchmarks. */
  def sample(spark: SparkSession): (Seq[(Long, Array[Byte])], BandKernel) = {
    val ds = RaquetIO.read(spark, fx.dir)
    val rows = ds.data.filter(quadbin_zoom(col("block")) === fx.z)
      .select("block", "band_1").orderBy("block").limit(32).collect()
    (rows.map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq, ds.kernel("band_1"))
  }

  protected def check(cond: Boolean, what: => String): Outcome =
    if (cond) Outcome(ok = true, "") else Outcome(ok = false, what)
}

object Workload {
  def apply(name: String, fixtureDir: String, seed: Long): Workload =
    name match {
      case "interactive" => new Interactive(fixtureDir, seed)
      case "scan" => new Scan(fixtureDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** `block` legs in the scans' pushed filters: equality and range starts. */
  def pushedBlockLegs(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    root.collect { case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "") }
      .map(s => "(EqualTo\\(block,|GreaterThanOrEqual\\(block,)".r.findAllMatchIn(s).size).sum
  }

  def metaTimed(spark: SparkSession, dir: String, ctx: OpCtx): Unit = {
    val (_, ms) = Util.timed(RaquetIO.readMetadata(spark, dir))
    ctx.layer("raquetio.metadata_ms") += ms
  }

  /** Footer facts of a written raquet directory. */
  def footerRecord(dir: String): (Int, Int, Double) = {
    val rgs = Util.rowGroups(dir)
    (rgs.map(_.file).distinct.size, rgs.size, Util.treeBytes(dir) / 1e6)
  }

  def ensureFixtureMarker(marker: String)(write: => Seq[(String, Any)]): Unit = {
    val p = java.nio.file.Paths.get(marker)
    if (!java.nio.file.Files.exists(p)) {
      val rec = write
      java.nio.file.Files.writeString(p, Util.json(rec))
    }
  }
}

/** Interactive queries on the slope table (BASELINE's interactive rows):
  * op1 point value, op2 a 16-tile then a ~500-tile region statistic,
  * op3 resolution distribution + full-table stats-column aggregate. */
final class Interactive(fixtureDir: String, seed: Long)
    extends Workload(fixtureDir, seed) {
  val kinds = IndexedSeq("point", "region", "colstats")
  val warmupRounds = 8
  private var oracle: Array[Array[Double]] = _

  override def open(spark: SparkSession): Unit = {
    super.open(spark)
    oracle = Fixtures.slopeTileOracle(fx, Runtime.getRuntime.availableProcessors)
  }

  def run(spark: SparkSession, kind: Int, rnd: java.util.Random, ctx: OpCtx): Outcome =
    kind match {
      case 0 => point(spark, rnd, ctx)
      case 1 =>
        val a = region(spark, rnd, 4, 4, "small", ctx)
        val b = region(spark, rnd, 22, 23, "large", ctx)
        Outcome(a.ok && b.ok, a.detail + b.detail, a.tilesUsed + b.tilesUsed,
          a.tilesDecoded + b.tilesDecoded, a.ranges ++ b.ranges, a.parts ++ b.parts)
      case _ => colstats(spark, ctx)
    }

  private def point(spark: SparkSession, rnd: java.util.Random, ctx: OpCtx): Outcome = {
    val gx = (fx.x0 + rnd.nextInt(fx.n)) * 256 + rnd.nextInt(256)
    val gy = (fx.y0 + rnd.nextInt(fx.n)) * 256 + rnd.nextInt(256)
    val (lon, lat) = Util.pixelCenter(gx, gy, fx.z + 8)
    val ds = ctx.phase("build")(RaquetIO.readAt(spark, fx.dir, lon, lat))
    val df = ds.data.select(rq_raster_value(col("band_1"), col("block"),
      lit(lon), lit(lat), ds.meta, "band_1").as("v"))
    ctx.plan(df)
    val rows = ctx.phase("execute")(df.collect())
    val want = graft.raquet.FixtureGen.slopeValue(gx, gy).toFloat.toDouble
    val cell = Quadbin.tileToCell(gx / 256, gy / 256, fx.z)
    val got = rows.map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0)).toSeq
    check(got == Seq(want), s"point ($gx,$gy): got $got want $want; ")
      .copy(tilesUsed = 1, tilesDecoded = 1, ranges = Seq((cell, cell)))
  }

  private def region(spark: SparkSession, rnd: java.util.Random, w: Int, h: Int,
      cls: String, ctx: OpCtx): Outcome = {
    val tx = fx.x0 + rnd.nextInt(fx.n - w + 1)
    val ty = fx.y0 + rnd.nextInt(fx.n - h + 1)
    val wkt = Util.tileRectWkt(tx, ty, tx + w - 1, ty + h - 1, fx.z)
    // closed-form answer: the rectangle's tiles from the tile oracle
    var cnt = 0.0; var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var sum = 0.0
    for (y <- ty until ty + h; x <- tx until tx + w) {
      val o = oracle(((y - fx.y0) * fx.n + (x - fx.x0)).toInt)
      cnt += o(0); mn = math.min(mn, o(1)); mx = math.max(mx, o(2)); sum += o(3)
    }
    val t0 = System.nanoTime()
    val df = ctx.phase("build") {
      RaquetIO.regionStatsTiles(spark, fx.dir, wkt, "band_1")
        .agg(rq_stats_merge(col("s")).as("m")).select("m.count", "m.min", "m.max", "m.sum")
    }
    ctx.plan(df)
    val r = ctx.phase("execute")(df.collect())
    val ms = (System.nanoTime() - t0) / 1e6
    val got = r.headOption.map(x => (x.getLong(0).toDouble, x.getDouble(1), x.getDouble(2), x.getDouble(3)))
    val verdict = check(got.contains((cnt, mn, mx, sum)),
      s"region $cls ($tx,$ty): got $got want ${(cnt, mn, mx, sum)}; ")
      .copy(tilesUsed = w.toLong * h, parts = Seq(s"region_$cls" -> ms))
    // the cover the query used, for the traced run's pruning readings
    if (!ctx.traced) verdict
    else {
      val (interior, boundary) = Polyfill.splitCover(Wkt.parse(wkt), fx.z)
      verdict.copy(tilesDecoded = boundary.length,
        ranges = interior.toSeq ++ boundary.map(c => (c, c)))
    }
  }

  private def colstats(spark: SparkSession, ctx: OpCtx): Outcome = {
    val (res, agg) = ctx.phase("build") {
      val ds = RaquetIO.read(spark, fx.dir)
      (ds.data.groupBy(quadbin_zoom(col("block")).as("z")).agg(count(lit(1)).as("n")),
        ds.data.agg(sum("band_1_count"), sum("band_1_sum"), min("band_1_min"),
          max("band_1_max")))
    }
    ctx.plan(res); ctx.plan(agg)
    val (r1, r2) = ctx.phase("execute")((res.collect(), agg.collect()))
    val dist = r1.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nat = oracle.foldLeft(Array(0.0, Double.PositiveInfinity, Double.NegativeInfinity, 0.0)) {
      (a, o) => Array(a(0) + o(0), math.min(a(1), o(1)), math.max(a(2), o(2)), a(3) + o(3))
    }
    // the overview level averages 2×2 children: a quarter of the pixels
    // and exactly a quarter of the sum (all values stay dyadic)
    val wantAgg = ((fx.nativeTiles + fx.overviewTiles) * 65536L, nat(3) + nat(3) / 4, nat(1), nat(2))
    val a = r2.head
    val gotAgg = (a.getLong(0), a.getDouble(1), a.getDouble(2), a.getDouble(3))
    val wantDist = Map(fx.z -> fx.nativeTiles.toLong, (fx.z - 1) -> fx.overviewTiles.toLong)
    check(dist == wantDist && gotAgg == wantAgg,
      s"colstats: got $dist $gotAgg want $wantDist $wantAgg; ")
      .copy(tilesUsed = fx.nativeTiles + fx.overviewTiles, tilesDecoded = 0,
        ranges = Seq((Long.MinValue, Long.MaxValue)))
  }

  override def probe(spark: SparkSession, kind: Int, out: Outcome, ctx: OpCtx): Unit = {
    Workload.metaTimed(spark, fx.dir, ctx)
    if (kind == 1) for ((w, h) <- Seq((4, 4), (22, 23))) {
      val wkt = Util.tileRectWkt(fx.x0, fx.y0, fx.x0 + w - 1, fx.y0 + h - 1, fx.z)
      val ((interior, boundary), ms) = Util.timed(Polyfill.splitCover(Wkt.parse(wkt), fx.z))
      ctx.layer("quadbin.cover_ms") += ms / 2
      ctx.layer("quadbin.cells_per_region") += (w * h) / 2.0
      ctx.layer("quadbin.ranges_per_region") +=
        (interior.length + Polyfill.merge(boundary.map(c => (c, c))).length) / 2.0
    }
  }
}

/** Full passes over every native tile (BASELINE Query B and top-20):
  * op1 Query B at mean < 30, op2 Query B at mean < 50, op3 top-20 flattest. */
final class Scan(fixtureDir: String, seed: Long) extends Workload(fixtureDir, seed) {
  val kinds = IndexedSeq("queryb_lt30", "queryb_lt50", "top20")
  val warmupRounds = 5
  private val thresholds = Seq(30.0, 50.0)
  private var wantB: Map[Double, Long] = Map.empty
  private var wantTop: Seq[Long] = Nil

  /** The stats-column path (no decode) is the oracle for both queries. */
  override def open(spark: SparkSession): Unit = {
    super.open(spark)
    val nat = RaquetIO.read(spark, fx.dir).data.filter(quadbin_zoom(col("block")) === fx.z)
    wantB = thresholds.map(t => t -> nat.filter(col("band_1_mean") < t).count()).toMap
    wantTop = nat.orderBy(col("band_1_mean").asc, col("block").asc).limit(20)
      .filter(col("band_1_mean") < 30.0 && col("band_1_count") > 0)
      .select("block").collect().map(_.getLong(0)).toSeq
  }

  def run(spark: SparkSession, kind: Int, rnd: java.util.Random, ctx: OpCtx): Outcome = {
    val ds = ctx.phase("build")(RaquetIO.read(spark, fx.dir))
    val nat = ds.data.filter(quadbin_zoom(col("block")) === fx.z)
    val used = Outcome(ok = true, "", fx.nativeTiles, fx.nativeTiles,
      Seq((Long.MinValue, Long.MaxValue)))
    if (kind < 2) {
      val t = thresholds(kind)
      val df = nat.select(rq_summary_stats(col("band_1"), ds.meta, "band_1")
          .getField("mean").as("m"))
        .agg(count(lit(1)).as("total"), sum(when(col("m") < t, 1L).otherwise(0L)).as("hit"))
      ctx.plan(df)
      val r = ctx.phase("execute")(df.collect()).head
      val got = (r.getLong(0), r.getLong(1))
      check(got == ((fx.nativeTiles.toLong, wantB(t))),
        s"queryb<$t: got $got want ${(fx.nativeTiles, wantB(t))}; ")
        .copy(tilesUsed = used.tilesUsed, tilesDecoded = used.tilesDecoded, ranges = used.ranges)
    } else {
      // limit before the suitability filter: one decode per tile (see the
      // engine's large-bench top-20 query for why the order matters)
      val df = nat.select(col("block"), rq_summary_stats(col("band_1"), ds.meta, "band_1").as("s"))
        .select(col("block"), col("s.mean").as("mean"), col("s.count").as("n"))
        .orderBy(col("mean").asc, col("block").asc).limit(20)
        .filter(col("mean") < 30.0 && col("n") > 0).select("block")
      ctx.plan(df)
      val got = ctx.phase("execute")(df.collect()).map(_.getLong(0)).toSeq
      check(got == wantTop, s"top20: got $got want $wantTop; ")
        .copy(tilesUsed = used.tilesUsed, tilesDecoded = used.tilesDecoded, ranges = used.ranges)
    }
  }
}

/** The write direction, measured in traced runs only (as a workload its
  * multi-second job chains spread too widely for the run length):
  * `GeoTiff.convert` of the seed's TCI-class GeoTIFF with tile stats, the
  * full pyramid and a target file size, `Maintenance.validate` of the
  * output, and `GeoTiff.export` back to GeoTIFF, read back and compared
  * with the source pixels. The convert's time per engine layer comes from
  * its jobs, attributed by call site. */
object WriteProbe {
  def run(spark: SparkSession, src: Fixtures.Tci, workDir: String,
      t: Trace): (Outcome, Seq[(String, Double)]) = {
    val out = s"$workDir/write-probe"
    val tif = s"$workDir/write-probe.tif"
    Util.deleteTree(out)
    Util.deleteTree(tif)
    val (meta, span) = t.span("probe convert", 0) { _ =>
      GeoTiff.convert(spark, src.path, out, tileStats = true,
        targetFileBytes = 4L << 20, rowGroupBytes = 1L << 20)
    }
    val jobs = t.collectJobs(Set(span.id))
    def layer(site: String) = jobs.filter(_.callSite.contains(site))
      .map(j => (t.toLocal(j.startMs), t.toLocal(j.endMs)))
    def busyS(site: String) = Trace.covered(layer(site), span.startMs, span.endMs) / 1e3
    val writes = layer("RaquetIO$.write")
    val rgs = Util.rowGroups(out)
    val (rows, validateMs) = Util.timed(Maintenance.validate(spark, out).collect())
    val (_, exportMs) = Util.timed(GeoTiff.export(spark, out, tif))
    val tiles = (src.side / 256) * (src.side / 256)
    val bad = rows.filterNot(_.getBoolean(1)).map(r => s"${r.getString(0)}: ${r.getString(2)}")
    val problems =
      (if (meta.maxZoom == Fixtures.TciZoom && meta.numBlocks == tiles) Nil
       else Seq(s"convert: zoom ${meta.maxZoom} blocks ${meta.numBlocks}")) ++
        (if (rows.isEmpty) Seq("validate: no checks") else bad.map("validate " + _)) ++
        (if (readBackMatches(src, tif)) Nil else Seq("export: read-back differs from the source"))
    val layers = Seq(
      "geotiff.convert_s" -> (span.endMs - span.startMs) / 1e3,
      "geotiff.read_warp_s" -> busyS("GeoTiff$.convert"),
      "pyramid.s" -> busyS("Pyramid$.build"),
      "write.s" -> busyS("RaquetIO$.write"),
      "write.tail_ms" -> (if (writes.isEmpty) 0.0 else span.endMs - writes.map(_._2).max),
      "write.files" -> rgs.map(_.file).distinct.size.toDouble,
      "write.row_groups" -> rgs.size.toDouble,
      "write.output_mb" -> Util.treeBytes(out) / 1e6,
      "write.stored_bytes_per_pixel_byte" -> rgs.map(_.bytes).sum.toDouble / src.rawBytes,
      "maintenance.validate_s" -> validateMs / 1e3,
      "geotiff.export_s" -> exportMs / 1e3)
    (Outcome(problems.isEmpty, problems.mkString("", "; ", "; ")), layers)
  }

  /** The exported GeoTIFF holds exactly the source pixels. */
  private def readBackMatches(src: Fixtures.Tci, tif: String): Boolean = {
    val back = GeoTiff.read(tif)
    val n = src.side
    back.info.width == n && back.info.height == n && back.info.bands == 3 &&
      (0 until 3).forall { b =>
        val a = back.pixels(b)
        var ok = true
        var y = 0
        while (ok && y < n) {
          var x = 0
          while (ok && x < n) { ok = a(y * n + x) == Fixtures.tciValue(src, b, x, y); x += 1 }
          y += 1
        }
        ok
      }
  }
}
