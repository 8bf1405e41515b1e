package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock,
  ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** A literal whose value the generated code reads from the `references`
  * array instead of writing it into the source: evaluates to `literal`'s
  * value, but two queries that differ only in the value generate the same
  * Java. Non-foldable, so nothing folds it back into the source. */
case class ParamLit(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = s"param($literal)"
  override def sql: String = literal.sql
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

/** The closed Morton-range legs `attr >= lo AND attr <= hi`, OR-ed. The one
  * builder of the pushdown predicate ([[org.apache.spark.sql.graft.QuadbinRangeRewrite]],
  * `RaquetIO.blockRangeFilter`) and its matcher in [[ShapeStableCodegen]]. */
object BlockRanges {

  /** The legs over `ranges` as a balanced OR tree (`false` when empty) — a
    * left-nested OR over thousands of legs overflows the stack at plan
    * conversion time. */
  def apply(attr: Expression, ranges: Seq[(Long, Long)]): Expression = {
    if (ranges.isEmpty) return Literal(false)
    var legs: Seq[Expression] = ranges.map { case (lo, hi) =>
      And(GreaterThanOrEqual(attr, Literal(lo)), LessThanOrEqual(attr, Literal(hi)))
    }
    while (legs.length > 1)
      legs = legs.grouped(2).map(g => if (g.length == 2) Or(g(0), g(1)) else g(0)).toSeq
    legs.head
  }

  /** A tree of such legs in any OR nesting: one `LongType` attribute, every
    * bound a `Long` literal. Yields the attribute and the legs, as written
    * (unsorted, possibly overlapping or empty). */
  def unapply(e: Expression): Option[(Attribute, Seq[(Long, Long)])] = e match {
    case Or(l, r) =>
      for ((a, x) <- unapply(l); (b, y) <- unapply(r) if a.semanticEquals(b))
        yield (a, x ++ y)
    case And(GreaterThanOrEqual(a: Attribute, Literal(lo: Long, LongType)),
        LessThanOrEqual(b: Attribute, Literal(hi: Long, LongType)))
        if a.dataType == LongType && a.semanticEquals(b) =>
      Some((a, Seq((lo, hi))))
    case _ => None
  }

  /** The most OR legs a pushed scan filter may have: parquet source filters
    * stop translating past about 64. */
  val MaxLegs = 64

  /** Sorted `spans` with neighbouring pairs merged until at most [[MaxLegs]]
    * remain: a sorted superset of every span, for scan pushdown. */
  def capped(spans: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    var out = spans.toIndexedSeq
    while (out.length > MaxLegs)
      out = out.grouped(2).map(g => (g.head._1, g.last._2)).toIndexedSeq
    out
  }

  /** Sorted, disjoint, non-adjacent spans covering exactly the legs. */
  def union(legs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    for ((lo, hi) <- legs.filter(l => l._1 <= l._2).sortBy(_._1)) {
      val last = out.lastOption
      if (last.exists(p => p._2 == Long.MaxValue || lo <= p._2 + 1)) {
        if (hi > last.get._2) out(out.length - 1) = (last.get._1, hi)
      } else out += ((lo, hi))
    }
    out.toVector
  }

  /** Spans in both of two sorted, disjoint span lists. */
  def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.toVector
  }

  /** Whether `spans` is what `Polyfill.inRanges` needs: sorted, disjoint. */
  def disjoint(spans: Seq[(Long, Long)]): Boolean =
    spans.forall(s => s._1 <= s._2) &&
      spans.iterator.zip(spans.iterator.drop(1)).forall { case (p, n) => p._2 < n._1 }
}

/** Physical-plan rule that makes the Java generated for `FilterExec` and
  * `ProjectExec` depend only on the query's shape. Spark writes every
  * literal into the generated source and caches compiled classes by their
  * source, so a point or region query at a new position would otherwise
  * compile its stage again (tens of ms of janino per query). The rule
  *
  *  - turns each OR of closed range legs on one `LongType` attribute
  *    ([[BlockRanges]]) into one `quadbin_in_ranges` over the legs' union,
  *    whose span arrays the generated code binds by reference;
  *  - turns the top-level conjuncts that bound one such attribute (a lone
  *    closed range, a pushdown superset AND its exact `quadbin_in_ranges`)
  *    into one `quadbin_in_ranges` over their intersection, so a cover of
  *    one range has the shape of a cover of many;
  *  - turns an `Int`/`Long`/`Double` literal that is a direct child of a
  *    comparison or of `rq_raster_value` into a [[ParamLit]].
  *
  * Every rewrite evaluates to the same value, nulls included. Scans keep
  * their filters, so pushdown and row-group pruning are unchanged. Installed
  * by `GraftExtensions` right before whole-stage codegen collapses the plan
  * ([[ShapeStableCodegen.columnarRule]]), which runs on every AQE stage. */
object ShapeStableCodegen extends Rule[SparkPlan] with PredicateHelper {

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ShapeStableCodegen
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = withNotNull(rewrite(f.condition)))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(rewrite(_).asInstanceOf[NamedExpression]))
  }

  def rewrite(e: Expression): Expression = parameterize(conjoinRanges(toRanges(e)))

  /** A filter drops the rows whose `quadbin_in_ranges` is null anyway;
    * saying so as `isnotnull` gives a many-range cover the condition shape
    * of a one-range cover, where the optimizer infers it from the bounds. */
  private def withNotNull(cond: Expression): Expression = {
    val conjuncts = splitConjunctivePredicates(cond)
    val missing = conjuncts.collect { case QuadbinInRanges(a: Attribute, _, _) => a }
      .filterNot(a => conjuncts.exists {
        case IsNotNull(b) => b.semanticEquals(a)
        case _ => false
      })
    if (missing.isEmpty) cond else (missing.map(IsNotNull) ++ conjuncts).reduceLeft(And)
  }

  private def toRanges(e: Expression): Expression = e.transformDown {
    case t @ BlockRanges(attr, legs) if t.isInstanceOf[Or] =>
      inRanges(attr, BlockRanges.union(legs)).getOrElse(t)
  }

  /** The top-level conjuncts that bound one attribute by spans — a
    * well-formed `quadbin_in_ranges`, or `attr >= lo` / `attr <= hi` — become
    * one `quadbin_in_ranges` over their intersection, when it is not empty. */
  private def conjoinRanges(e: Expression): Expression = {
    val conjuncts = splitConjunctivePredicates(e)
    val out = ArrayBuffer.empty[Expression]
    conjuncts.foreach { c =>
      val merged = spans(c).flatMap { case (b, y) =>
        out.indices.find(i => spans(out(i)).exists(_._1.semanticEquals(b))).flatMap(i =>
          inRanges(b, BlockRanges.intersect(spans(out(i)).get._2, y)).map(i -> _))
      }
      merged match {
        case Some((i, q)) => out(i) = q
        case None => out += c
      }
    }
    if (out.length == conjuncts.length) e else out.reduceLeft(And)
  }

  private def spans(e: Expression): Option[(Attribute, Seq[(Long, Long)])] = e match {
    case QuadbinInRanges(a: Attribute, lo, hi) if BlockRanges.disjoint(lo.toSeq.zip(hi)) =>
      Some((a, lo.toSeq.zip(hi)))
    case GreaterThanOrEqual(a: Attribute, Literal(lo: Long, LongType)) =>
      Some((a, Seq((lo, Long.MaxValue))))
    case LessThanOrEqual(a: Attribute, Literal(hi: Long, LongType)) =>
      Some((a, Seq((Long.MinValue, hi))))
    case _ => None
  }

  private def inRanges(attr: Attribute, spans: Seq[(Long, Long)]): Option[QuadbinInRanges] =
    if (spans.isEmpty) None
    else Some(QuadbinInRanges(attr, spans.map(_._1).toArray, spans.map(_._2).toArray))

  private def parameterize(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case v: RqRasterValue => v.withNewChildren(v.children.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case l @ Literal(v, IntegerType | LongType | DoubleType) if v != null => ParamLit(l)
    case other => other
  }
}
