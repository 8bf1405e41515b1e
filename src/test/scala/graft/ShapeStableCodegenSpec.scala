package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BlockRanges, ParamLit, QuadbinInRanges,
  QuadbinRangeRewrite, ShapeStableCodegen}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import org.scalacheck.Gen

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin
import graft.raquet.RaquetIO

/** [[ShapeStableCodegen]]: point and region queries at new positions reuse
  * their compiled classes, results and scan pushdown are those of a session
  * without the rule, and the expression rewrite is value-preserving,
  * selective and idempotent. */
class ShapeStableCodegenSpec extends SparkSpec with PropHelper {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"

  /** A session with the graft functions and the range pushdown rewrite but
    * not [[ShapeStableCodegen]]. Built after the suite's session, which
    * stays the default one. */
  private lazy val plain: SparkSession = {
    val graft = spark
    val s = SparkSession.builder()
      .withExtensions(_.injectOptimizerRule(_ => QuadbinRangeRewrite)).create()
    GraftFunctions.register(s)
    SparkSession.setDefaultSession(graft)
    SparkSession.setActiveSession(graft)
    s
  }

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val sessions = Seq(spark, plain)
    val before = sessions.map(_.conf.get("spark.sql.adaptive.enabled"))
    sessions.foreach(_.conf.set("spark.sql.adaptive.enabled", on.toString))
    try body
    finally sessions.zip(before).foreach { case (s, v) => s.conf.set("spark.sql.adaptive.enabled", v) }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // gradient16: zoom 6, tiles x 32..39, y 24..31
  private def tileRect(x0: Int, y0: Int, x1: Int, y1: Int, inset: Double = 0.1): String = {
    val (w, e) = (Quadbin.tileWest(x0, 6) + inset, Quadbin.tileEast(x1, 6) - inset)
    val (s, n) = (Quadbin.tileSouth(y1, 6) + inset, Quadbin.tileNorth(y0, 6) - inset)
    s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"
  }

  // query positions 0..4: distinct tiles and rectangles, all inside the data
  private def pointAt(i: Int): (Double, Double) = {
    val b = Quadbin.cellBounds(Quadbin.tileToCell(32 + i, 24 + (3 * i) % 8, 6))
    ((b(0) + b(2)) / 2 + 0.013 * i, (b(1) + b(3)) / 2 - 0.007 * i)
  }

  private def point(s: SparkSession, i: Int): DataFrame = {
    val (lon, lat) = pointAt(i)
    val ds = RaquetIO.readAt(s, fixture, lon, lat)
    ds.data.select(rq_raster_value(col("band_1"), col("block"), lit(lon), lit(lat),
      ds.meta, "band_1").as("v"))
  }

  /** The point query as a scan: `readAt` evaluates its kernel on the
    * driver, so this form is the one that runs the kernel in generated code. */
  private def pointScan(s: SparkSession, i: Int): DataFrame = {
    val (lon, lat) = pointAt(i)
    val ds = RaquetIO.read(s, fixture)
    ds.data.filter(col("block") === Quadbin.fromLonLat(lon, lat, 6))
      .select(rq_raster_value(col("band_1"), col("block"), lit(lon), lit(lat),
        ds.meta, "band_1").as("v"))
  }

  private def regionStats(s: SparkSession, i: Int): DataFrame = {
    val (x, y) = (32 + i, 24 + (2 * i) % 5)
    RaquetIO.regionStatsTiles(s, fixture, tileRect(x, y, x + 3, y + 3), "band_1")
      .agg(rq_stats_merge(col("s")).as("m")).select("m.count", "m.min", "m.max", "m.sum")
  }

  private def region(s: SparkSession, i: Int): DataFrame = {
    val (x, y) = (33 + i, 24 + (3 * i) % 5)
    RaquetIO.readRegion(s, fixture, tileRect(x, y, x + 2 + i % 2, y + 3))
      .data.select("block", "band_1_count")
  }

  /** Plan-time kernel constants that differ at every position: a histogram
    * range, a contour level and a mask interval. */
  private def kernelConstants(s: SparkSession, i: Int): DataFrame = {
    val ds = RaquetIO.read(s, fixture)
    ds.data.select(col("block"),
      rq_histogram(col("band_1"), ds.meta, "band_1", -0.5 - i, 255.5 + i, 16).as("h"),
      rq_contour(col("band_1"), ds.meta, "band_1", 100.5 + i).as("c"),
      sha2(rq_mask_range(col("band_1"), ds.meta, "band_1", 50.0 + i, 150.0 + i), 256).as("m"))
  }

  /** Small squares inside every tile with even x and y over 20×20 tiles
    * around the fixture: 100 cells, no two Morton-adjacent, so 100 ranges. */
  private val sparseWkt: String = {
    val squares = for (x <- 24 to 43 by 2; y <- 16 to 35 by 2)
      yield "(" + tileRect(x, y, x, y, 1.0).stripPrefix("POLYGON(").stripSuffix(")") + ")"
    squares.mkString("MULTIPOLYGON(", ", ", ")")
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private val kinds: Seq[(String, (SparkSession, Int) => DataFrame)] =
    Seq("point" -> point, "point scan" -> pointScan, "region stats" -> regionStats,
      "readRegion" -> region, "kernel constants" -> kernelConstants)

  // each mode measures at positions no earlier query used: the class cache
  // is shared by every session in the JVM
  for ((aqe, positions) <- Seq(true -> Seq(1, 2), false -> Seq(3, 4)))
    test(s"queries at new positions compile nothing and match a session without the rule (AQE $aqe)") {
      withAqe(aqe) {
        kinds.foreach { case (_, q) => sorted(q(spark, 0)) }
        val before = compiles
        val got = for ((name, q) <- kinds; i <- positions) yield (name, i) -> sorted(q(spark, i))
        assert(compiles == before, s"${compiles - before} classes compiled after warm-up")
        got.foreach { case ((name, i), rows) =>
          assert(rows.nonEmpty, s"$name at position $i is empty")
          assert(rows == sorted(kinds.toMap.apply(name)(plain, i)), s"$name at position $i")
        }
      }
    }

  private def pushed(df: DataFrame): Seq[String] = df.queryExecution.executedPlan
    .collect { case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "") }

  test("scans push the same filters; a large region's residual is one in-ranges inside codegen") {
    withAqe(false) {
      val bare = tileRect(33, 25, 34, 26)
      val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
        "point scan" -> (pointScan(_, 1)),
        "16-tile region" -> (regionStats(_, 1)),
        "100-range region" -> (s => RaquetIO.readRegion(s, fixture, sparseWkt).data.select("block")),
        "st_quadbin_intersects" -> (s => s.read.parquet(fixture)
          .filter(col("block") =!= 0L && expr(s"st_quadbin_intersects(block, '$bare')"))
          .select("block")))
      queries.foreach { case (name, q) =>
        val (withRule, without) = (q(spark), q(plain))
        assert(pushed(withRule).nonEmpty && pushed(withRule) == pushed(without), name)
        assert(sorted(withRule) == sorted(without), name)
      }
      val large = RaquetIO.readRegion(spark, fixture, sparseWkt).data
      assert(large.count() == 16)
      val filters = large.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.collect { case f: FilterExec => f }
      }.flatten
      assert(filters.length == 1, large.queryExecution.executedPlan)
      val inRanges = filters.head.condition.collect { case q: QuadbinInRanges => q }
      assert(inRanges.length == 1 && filters.head.condition.find(_.isInstanceOf[Or]).isEmpty,
        filters.head.condition)
      assert(inRanges.head.lo.length == 100)
    }
  }

  private val a = AttributeReference("a", LongType)()
  private val b = AttributeReference("b", LongType)()

  private def leg(x: Expression, lo: Long, hi: Long): Expression =
    And(GreaterThanOrEqual(x, Literal(lo)), LessThanOrEqual(x, Literal(hi)))

  private val bound: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-6L, 6L),
    1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue))
  private val legs: Gen[List[(Long, Long)]] = Gen.choose(1, 9).flatMap(n =>
    Gen.listOfN(n, Gen.zip(bound, bound).flatMap { case (lo, hi) =>
      // adjacent and duplicate legs come from the small bound pool; also
      // make some legs that start right after a bound
      Gen.oneOf((lo, hi), (hi, lo), (lo, lo), (if (lo == Long.MaxValue) lo else lo + 1, hi))
    }))

  /** OR tree over `legs`, nested by `shape`: balanced, left or right. */
  private def tree(legs: Seq[(Long, Long)], shape: Int): Expression = shape match {
    case 0 => BlockRanges(a, legs)
    case 1 => legs.map { case (lo, hi) => leg(a, lo, hi) }.reduceLeft[Expression](Or)
    case _ => legs.map { case (lo, hi) => leg(a, lo, hi) }.reduceRight[Expression](Or)
  }

  private def eval(e: Expression, v: Any): Any =
    BindReferences.bindReference(e, AttributeSeq(Seq(a, b))).eval(InternalRow(v, 0L))

  private def evalCodegen(e: Expression, v: Any): Any = {
    val row = UnsafeProjection.create(Seq(BindReferences.bindReference(e,
      AttributeSeq(Seq(a, b)))))(InternalRow(v, 0L))
    if (row.isNullAt(0)) null else row.get(0, e.dataType)
  }

  test("capped spans are sorted, within the leg cap, and cover every input span") {
    val point = Gen.frequency(4 -> Gen.choose(-5000L, 5000L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue), 1 -> Gen.choose(Long.MinValue, Long.MaxValue))
    // sorted disjoint spans from sorted distinct points, 0 to 300 of them
    val spans = Gen.choose(0, 600).flatMap(n => Gen.listOfN(n, point))
      .map(_.distinct.sorted.grouped(2).collect { case Seq(lo, hi) => (lo, hi) }.toSeq)
    forAll(spans, 100) { in =>
      val out = BlockRanges.capped(in)
      assert(out.length <= BlockRanges.MaxLegs)
      assert(out.forall(s => s._1 <= s._2))
      assert(out.iterator.zip(out.iterator.drop(1)).forall { case (p, n) => p._2 < n._1 })
      assert(in.forall(s => out.exists(o => o._1 <= s._1 && s._2 <= o._2)))
      if (in.length <= BlockRanges.MaxLegs) assert(out == in)
    }
  }

  test("closed legs, OR-ed or alone, become one in-ranges of the same value, nulls included") {
    forAll(Gen.zip(legs, Gen.choose(0, 2))) { case (ls, shape) =>
      val orig = tree(ls, shape)
      val out = ShapeStableCodegen.rewrite(orig)
      // a lone leg is a conjunction of two bounds
      if (ls.forall { case (lo, hi) => lo > hi })
        assert(out.find(_.isInstanceOf[QuadbinInRanges]).isEmpty)
      else assert(out.isInstanceOf[QuadbinInRanges], out)
      val probes = ls.flatMap { case (lo, hi) => Seq(lo, hi) }
        .flatMap(v => Seq(v, v + 1, v - 1)) ++ Seq(Long.MinValue, Long.MaxValue, 0L)
      (null +: probes).foreach { v =>
        assert(eval(out, v) == eval(orig, v), s"interpreted at $v")
        assert(evalCodegen(out, v) == eval(orig, v), s"codegen at $v")
      }
    }
  }

  test("comparison literals become params of the same value") {
    val x = AttributeReference("x", DoubleType)()
    val i = AttributeReference("i", IntegerType)()
    val lits = Gen.oneOf(
      Gen.oneOf(0.0, -0.0, 1.5, Double.NaN, Double.PositiveInfinity).map(Literal(_)),
      Gen.choose(-3, 3).map(Literal(_)))
    val ops: Seq[(Expression, Expression) => Expression] = Seq(EqualTo(_, _),
      LessThan(_, _), GreaterThanOrEqual(_, _), EqualNullSafe(_, _))
    forAll(Gen.zip(lits, Gen.oneOf(ops), Gen.oneOf(-1.0, 0.0, 1.5, Double.NaN)), 60) {
      case (l, op, v) =>
        val attr = if (l.dataType == DoubleType) x else i
        val orig = op(attr, l)
        val out = ShapeStableCodegen.rewrite(orig)
        assert(out.find(_.isInstanceOf[ParamLit]).nonEmpty && out.find(_.isInstanceOf[Literal]).isEmpty)
        val in = InternalRow(if (attr == x) v else v.toInt)
        val bind = (e: Expression) => BindReferences.bindReference(e, AttributeSeq(Seq(attr)))
        val want = bind(orig).eval(in)
        assert(bind(out).eval(in) == want)
        assert(UnsafeProjection.create(Seq(bind(out)))(in).getBoolean(0) == want)
    }
  }

  private def unparam(e: Expression): Expression = e.transform { case ParamLit(l) => l }

  test("the rewrite leaves mixed, open, non-literal and non-comparison forms alone") {
    val s = AttributeReference("s", StringType)()
    forAll(legs.filter(_.length >= 2)) { ls =>
      // no OR node has both sides on one attribute
      val mixed = ls.zipWithIndex.map { case ((lo, hi), k) => leg(if (k % 2 == 0) a else b, lo, hi) }
        .reduceLeft[Expression](Or)
      val open = ls.map { case (lo, hi) => And(GreaterThan(a, Literal(lo)), LessThanOrEqual(a, Literal(hi))) }
        .reduceLeft[Expression](Or)
      val halfOpen = ls.map { case (lo, hi) => And(GreaterThanOrEqual(a, Literal(lo)), LessThan(a, Literal(hi))) }
        .reduceLeft[Expression](Or)
      val nonLiteral = ls.map { case (lo, hi) =>
        And(GreaterThanOrEqual(a, Add(Literal(lo), Literal(0L))), LessThanOrEqual(a, Literal(hi))) }
        .reduceLeft[Expression](Or)
      Seq(mixed, open, halfOpen, nonLiteral).foreach { e =>
        val out = ShapeStableCodegen.rewrite(e)
        assert(out.find(_.isInstanceOf[QuadbinInRanges]).isEmpty, out)
        assert(unparam(out) == e)
      }
    }
    Seq[Expression](
      In(a, Seq(Literal(1L), Literal(2L))),
      Like(s, Literal("ab%"), '\\'),
      EqualTo(Substring(s, Literal(1), Literal(2)), Literal("ab")),
      GreaterThan(Add(a, Literal(3L)), b)
    ).foreach(e => assert(ShapeStableCodegen.rewrite(e) == e, e))
  }

  test("aggregate expressions are left alone") {
    val df = spark.range(100).groupBy((col("id") % 3L).as("k"))
      .agg(sum(when(col("id") > 5L, 1L).otherwise(0L)), max(col("id") + 7L))
    val plan = df.queryExecution.sparkPlan
    val aggs = (p: SparkPlan) => p.collect { case h: HashAggregateExec =>
      h.groupingExpressions ++ h.aggregateExpressions ++ h.resultExpressions }.flatten
    assert(aggs(plan).exists(_.find(_.isInstanceOf[GreaterThan]).nonEmpty))
    assert(aggs(ShapeStableCodegen(plan)) == aggs(plan))
  }

  private val atom: Gen[Expression] = Gen.oneOf(
    Gen.zip(legs, Gen.choose(0, 2)).map { case (ls, sh) => tree(ls, sh) },
    legs.map(BlockRanges.union).filter(_.nonEmpty)
      .map(sp => QuadbinInRanges(a, sp.map(_._1).toArray, sp.map(_._2).toArray)),
    bound.map(v => GreaterThanOrEqual(a, Literal(v))),
    bound.map(v => LessThanOrEqual(a, Literal(v))),
    bound.map(v => LessThan(b, Literal(v))),
    Gen.const(In(a, Seq(Literal(1L), Literal(2L)))))
  private def expression(depth: Int): Gen[Expression] =
    if (depth == 0) atom
    else Gen.frequency(2 -> atom,
      1 -> Gen.zip(expression(depth - 1), expression(depth - 1)).map { case (l, r) => And(l, r) },
      1 -> Gen.zip(expression(depth - 1), expression(depth - 1)).map { case (l, r) => Or(l, r) },
      1 -> expression(depth - 1).map(Not))

  test("applying the rule twice gives the same result as once") {
    forAll(expression(3)) { e =>
      val once = ShapeStableCodegen.rewrite(e)
      assert(ShapeStableCodegen.rewrite(once) == once)
      Seq[Any](null, 0L, 1L, 100L, -7L, Long.MaxValue).foreach(v => assert(eval(once, v) == eval(e, v)))
    }
    withAqe(false) {
      Seq(point(spark, 1), pointScan(spark, 1), regionStats(spark, 1),
        RaquetIO.readRegion(spark, fixture, sparseWkt).data).foreach { df =>
        val once = ShapeStableCodegen(df.queryExecution.sparkPlan)
        assert(ShapeStableCodegen(once) == once)
      }
    }
  }
}
