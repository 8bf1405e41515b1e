package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.geo.Wkt
import graft.quadbin.Polyfill

/** Optimizer rule: a top-level `st_quadbin_intersects(block, wkt)` filter
  * conjunct gains a pushdown-able Morton-range companion —
  * `block BETWEEN lo AND hi OR …` per covered subtree, per zoom — so
  * parquet row-group pruning fires even when a user writes the spatial
  * predicate directly instead of going through `RaquetIO.readRegion`.
  * This is the "spatial predicate → block pruning" rewrite SURVEY.md §4
  * calls out as the one genuinely custom planning step.
  *
  * The ranges are a superset of the exact predicate (which remains in
  * place as the residual), so the rewrite is always sound. Range count is
  * bounded: zooms above `CapZoom` reuse the cap's perimeter decomposition
  * ([[Polyfill.cappedRanges]]).
  */
object QuadbinRangeRewrite extends Rule[LogicalPlan] {

  private val CapZoom = 10
  private val MaxRangesPerZoom = 4

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val rewritten = conjuncts.map {
        case q @ QuadbinIntersects(attr: Attribute, wkt, false) =>
          And(rangePredicate(attr, wkt), QuadbinIntersects(attr, wkt, expanded = true))
        // zoom-equality: the zoom bits sit above the Morton bits, so all
        // zoom-z ids form ONE contiguous block range — pushdown-able where
        // the quadbin_zoom() expression itself is not. The already-present
        // check keeps the rewrite idempotent across optimizer iterations.
        case e @ EqualTo(QuadbinZoom(attr: Attribute), Literal(z: Int, _))
            if z >= 0 && z <= 26 && !hasZoomRange(conjuncts, attr, z) =>
          And(zoomRange(attr, z), e)
        case e @ EqualTo(Literal(z: Int, _), QuadbinZoom(attr: Attribute))
            if z >= 0 && z <= 26 && !hasZoomRange(conjuncts, attr, z) =>
          And(zoomRange(attr, z), e)
        case other => other
      }
      if (rewritten == conjuncts) f
      else Filter(rewritten.reduce(And), child)
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }

  /** All ids of one zoom: [header | z<<52, header | z<<52 | 2^52-1]. */
  private def zoomLo(z: Int): Long = 0x4800000000000000L | (z.toLong << 52)

  private def zoomRange(attr: Attribute, z: Int): Expression = {
    val lo = zoomLo(z)
    BlockRanges(attr, Seq((lo, lo | ((1L << 52) - 1))))
  }

  private def hasZoomRange(conjuncts: Seq[Expression], attr: Attribute, z: Int): Boolean =
    conjuncts.exists {
      case GreaterThanOrEqual(a: Attribute, Literal(l: Long, _)) =>
        a.semanticEquals(attr) && l == zoomLo(z)
      case _ => false
    }

  /** OR over zooms 0..26 of the BETWEEN ranges covering the geometry —
    * zoom bits sit above the Morton bits, so each zoom's ranges only match
    * ids of that zoom and the union covers every possible block. */
  private def rangePredicate(attr: Attribute, wkt: String): Expression = {
    val geom = Wkt.parse(wkt)
    val spans = (0 to 26).flatMap { z =>
      val rs = Polyfill.cappedRanges(geom, z, CapZoom)
      if (rs.length > MaxRangesPerZoom) Array((rs.head._1, rs.last._2)) else rs
    }
    // deep disjunctions stop translating to source filters — keep the leg
    // count bounded by merging adjacent spans (still a sound superset)
    BlockRanges(attr, BlockRanges.capped(spans))
  }
}
