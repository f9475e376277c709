/*
 * Catalyst optimizer rule: rewrites the naive declarative spatial join
 *
 *   points CROSS JOIN polys WHERE st_covers(ring, holes, x, y)
 *
 * into the filter-refine plan the engine would hand-build:
 *
 *   (points + cell = hex_encode(x, y, res))
 *     JOIN (polys + explode(hex_cover(ring, res)) AS cell)
 *     ON cellL = cellR AND st_covers(ring, holes, x, y)
 *
 * so a user writing the obvious SQL gets the O(n·cells) equi-join instead of
 * the O(n·m) nested loop. Correct because hex_cover is a superset of the
 * cells of all covered points (property-tested in CellGridSpec) and the
 * original predicate is kept as the exact refine.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.core.HexGrid

object SpatialJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val Res = 11 // default hex resolution of the prejoin key (≈25 m edge)
  /** Max estimated cover cells per polygon before the rule coarsens the
    * resolution (envelope-stats-driven). */
  val CoverBudget = 256

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner | Cross, Some(cond), hint)
        // guard: an already-expanded join references the injected __cell_
        // attributes in its condition — never rewrite twice
        if !cond.references.exists(_.name.startsWith("__cell_")) =>
      splitCovers(cond, left, right) match {
        case Some((pip, pointsLeft)) =>
          val (ptsSide, polySide) = if (pointsLeft) (left, right) else (right, left)
          val res = pickRes(pip.first, polySide)
          val cellL = Alias(HexEncodeExpr(pip.third, pip.fourth, Literal(res)), "__cell_pt")()
          val ptsPlan = Project(ptsSide.output :+ cellL, ptsSide)
          val cellR = AttributeReference("__cell_poly", LongType, nullable = false)()
          val polyPlan = Generate(Explode(HexCoverExpr(pip.first, Literal(res))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(cellR), child = polySide)
          val eq = EqualTo(cellL.toAttribute, cellR)
          val (newL, newR) = if (pointsLeft) (ptsPlan, polyPlan) else (polyPlan, ptsPlan)
          Project(j.output, Join(newL, newR, Inner, Some(And(eq, cond)), hint))
        case None => j
      }
  }

  /**
   * Resolution for the cell prejoin. When the polygon side is statically
   * known (a LocalRelation — the common "small dimension of footprints"
   * shape), envelope stats start from the building-scale default and
   * COARSEN until the estimated cover is ≤ [[CoverBudget]] cells per
   * polygon, so a continent-scale polygon gets a few hundred cover cells
   * instead of millions of 25 m cells; otherwise the default
   * (building-footprint scale). The programmatic PipJoin API takes `res`
   * directly. Any res gives correct rows (hex_cover is a superset at every
   * res — CellGridSpec property); res only moves the filter/refine cost
   * balance.
   */
  private def pickRes(ringExpr: Expression, polySide: LogicalPlan): Int =
    maxEnvelopeSpan(ringExpr, polySide) match {
      case Some(span) =>
        var r = Res
        while (r > 0 && estCoverCells(span, r) > CoverBudget) r -= 1
        r
      case None => Res
    }

  /** Estimated hex-cover cell count for a polygon with bbox span `s` at `res`
    * (axial lattice: column pitch 1.5·edge, row pitch √3·edge, +2 slack). */
  private def estCoverCells(s: Double, res: Int): Double = {
    val e = HexGrid.edge(res)
    (s / (1.5 * e) + 2.0) * (s / (math.sqrt(3.0) * e) + 2.0)
  }

  /** Max bbox span (max of dx, dy) over the polygon side's rings, when the
    * side bottoms out in a LocalRelation carrying the ring attribute — the
    * only case where stats are knowable at rewrite time without running a
    * job. Returns None for file-backed / computed polygon sides. */
  private def maxEnvelopeSpan(ringExpr: Expression, polySide: LogicalPlan): Option[Double] =
    ringExpr match {
      case a: AttributeReference =>
        polySide.collectFirst {
          case lr: LocalRelation if lr.output.exists(_.exprId == a.exprId) => lr
        }.flatMap { lr =>
          val ord = lr.output.indexWhere(_.exprId == a.exprId)
          val spans = lr.data.iterator.filterNot(_.isNullAt(ord)).map { row =>
            val ring = row.getArray(ord)
            var minx = Double.MaxValue; var maxx = Double.MinValue
            var miny = Double.MaxValue; var maxy = Double.MinValue
            var i = 0
            while (i < ring.numElements()) {
              val p = ring.getStruct(i, 2)
              val x = p.getDouble(0); val y = p.getDouble(1)
              if (x < minx) minx = x; if (x > maxx) maxx = x
              if (y < miny) miny = y; if (y > maxy) maxy = y
              i += 1
            }
            math.max(maxx - minx, maxy - miny)
            // empty rings overflow to -Infinity (MinValue - MaxValue) and
            // NaN coordinates yield NaN spans; isFinite rejects both where
            // the old !isInfinite let NaN through to poison spans.max, and
            // s >= 0 documents the only meaningful domain
          }.filter(s => s.isFinite && s >= 0).toSeq
          if (spans.isEmpty) None else Some(spans.max)
        }
      case _ => None
    }

  /** Find a PipCoversExpr that is itself one of the top-level conjuncts of the
    * join condition (never one buried under OR/NOT/CASE, where conjoining the
    * cell equi-join would drop rows satisfying only the other branch), whose
    * ring/holes come from one side and x/y from the other; returns it plus
    * whether the point side is the left input. */
  private def splitCovers(cond: Expression, left: LogicalPlan,
                          right: LogicalPlan): Option[(PipCoversExpr, Boolean)] = {
    val lset = left.outputSet
    val rset = right.outputSet
    splitConjunctivePredicates(cond).collectFirst {
      case p: PipCoversExpr
          if p.first.references.subsetOf(rset) && p.second.references.subsetOf(rset) &&
             p.third.references.subsetOf(lset) && p.fourth.references.subsetOf(lset) =>
        (p, true)
      case p: PipCoversExpr
          if p.first.references.subsetOf(lset) && p.second.references.subsetOf(lset) &&
             p.third.references.subsetOf(rset) && p.fourth.references.subsetOf(rset) =>
        (p, false)
    }
  }
}

/**
 * Session extensions entry point:
 *   SparkSession.builder().withExtensions(new GraftExtensions) …
 * or  --conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
 * Injects the engine's SQL functions and the spatial-join rewrite — a
 * config-only deployment needs no code call to `register`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SpatialJoinRewrite)
    GeoFunctionsImpl.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("org.apache.spark.sql.graft", name), builder))
    }
  }
}

/** Runtime attachment for an already-built session (tests, notebooks). */
object GraftExtensions {
  def enable(spark: org.apache.spark.sql.SparkSession): Unit = {
    GeoFunctionsImpl.register(spark)
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(SpatialJoinRewrite))
      spark.experimental.extraOptimizations = cur :+ SpatialJoinRewrite
  }
}
