/*
 * Catalyst optimizer rule: plans the naive declarative spatial join
 *
 *   points CROSS JOIN polys WHERE st_covers(ring, holes, x, y) [AND rest]
 *
 * on one of the engine's two physical PIP routes, so a user writing the
 * obvious SQL never gets the O(n·m) nested loop:
 *
 *  - the polygon side is a non-streaming LocalRelation (a temp view over
 *    driver rows, the common "small dimension of footprints" shape): the
 *    map-only `pip_matches` kernel over the point side,
 *
 *      Project(list, Filter(rest,
 *        Generate(inline(pip_matches(x, y, index)), points)))
 *
 *    where `index` is a broadcast [[graft.operators.PipIndex]] of the
 *    polygon rows whose payload struct holds only the polygon columns the
 *    Project above the join and `rest` reference (the generator output
 *    reuses their attributes, so the plan above is unchanged). A null ring
 *    or null holes row is not indexed and a null x/y gives no row — where
 *    st_covers is null. Over a local point side too, [[LocalKernelFold]]
 *    then evaluates the whole query on the driver;
 *  - any other polygon side: the cell equi-join
 *
 *      (points + cell = hex_encode(x, y, res))
 *        JOIN (polys + explode(hex_cover(ring, res)) AS cell)
 *        ON cellL = cellR AND st_covers(ring, holes, x, y) [AND rest]
 *
 *    the O(n·cells) filter-refine plan. Correct because hex_cover is a
 *    superset of the cells of all covered points (property-tested in
 *    CellGridSpec) and the original predicate is kept as the exact refine.
 *
 * The kernel route builds its index on every optimization of the query:
 * `ConvertToLocalRelation` re-materializes a view's rows each time, so no
 * object outlives the query to bound a memo entry's life
 * ([[graft.operators.PlanIndex.shared]]), and a cache keyed by the rows'
 * content would live for the session.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.HexGrid
import graft.operators.PipIndex

object SpatialJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val Res = 11 // default hex resolution of the prejoin key (≈25 m edge)
  /** Max estimated cover cells per polygon before the rule coarsens the
    * resolution (envelope-stats-driven). */
  val CoverBudget = 256

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(list, j: Join) =>
      split(j).flatMap(kernelJoin(_, list.flatMap(_.references))).map(Project(list, _)).getOrElse(p)
    case j: Join =>
      split(j).map(s => kernelJoin(s, j.output).getOrElse(cellJoin(s, j)))
        .map(Project(j.output, _)).getOrElse(j)
  }

  /** An inner join whose condition has a top-level st_covers conjunct across
    * its sides: that conjunct, the point and polygon sides, the other
    * conjuncts. */
  private final case class Split(pip: PipCoversExpr, pointsLeft: Boolean, points: LogicalPlan,
                                 polys: LogicalPlan, rest: Seq[Expression])

  private def split(j: Join): Option[Split] = j match {
    case Join(left, right, Inner | Cross, Some(cond), _)
        // guard: an already-expanded join references the injected __cell_
        // attributes in its condition — never rewrite twice
        if !cond.references.exists(_.name.startsWith("__cell_")) =>
      splitCovers(cond, left, right).map { case (pip, pointsLeft) =>
        val (points, polys) = if (pointsLeft) (left, right) else (right, left)
        Split(pip, pointsLeft, points, polys, splitConjunctivePredicates(cond).filterNot(_ eq pip))
      }
    case _ => None
  }

  /** The cell equi-join of the file header, with `j`'s condition. */
  private def cellJoin(s: Split, j: Join): LogicalPlan = {
    val cellL = Alias(HexEncodeExpr(s.pip.third, s.pip.fourth, Literal(Res)), "__cell_pt")()
    val ptsPlan = Project(s.points.output :+ cellL, s.points)
    val cellR = AttributeReference("__cell_poly", LongType, nullable = false)()
    val polyPlan = Generate(Explode(HexCoverExpr(s.pip.first, Literal(Res))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(cellR), child = s.polys)
    val eq = EqualTo(cellL.toAttribute, cellR)
    val (newL, newR) = if (s.pointsLeft) (ptsPlan, polyPlan) else (polyPlan, ptsPlan)
    Join(newL, newR, Inner, Some(And(eq, j.condition.get)), j.hint)
  }

  /** The `pip_matches` plan of the file header when the polygon side is
    * local; its output holds the point side and every polygon column in
    * `required` or `rest`. */
  private def kernelJoin(s: Split, required: Seq[Attribute]): Option[LogicalPlan] =
    LocalKernelFold.local(s.polys).map { lr =>
      val used = AttributeSet(required ++ s.rest.flatMap(_.references))
      val payload = lr.output.filter(used.contains)
      val index = SparkSession.active.sparkContext.broadcast(
        polygonIndex(s.pip.first, s.pip.second, lr, payload))
      val gen = Generate(Inline(PipMatchesExpr(s.pip.third, s.pip.fourth, index)),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = payload, child = s.points)
      s.rest.reduceOption(And).fold[LogicalPlan](gen)(Filter(_, gen))
    }

  /** The PIP index of `lr`'s polygons (`ringExpr`, `holesExpr` over its
    * rows) at [[resFor]] their envelopes, each with its `payload` columns as
    * a struct; rows whose ring or holes is null are left out. What the
    * kernel route builds per query (`graft.operators.IndexCostProbe` times
    * it). */
  def polygonIndex(ringExpr: Expression, holesExpr: Expression, lr: LocalRelation,
                   payload: Seq[Attribute]): PipIndex = {
    val ring = BindReferences.bindReference(ringExpr, lr.output)
    val holes = BindReferences.bindReference(holesExpr, lr.output)
    val struct = UnsafeProjection.create(payload, lr.output)
    val rings, holeSets = Array.newBuilder[ArrayData]
    val values = Array.newBuilder[AnyRef]
    lr.data.foreach { row =>
      val (r, h) = (ring.eval(row), holes.eval(row))
      if (r != null && h != null) {
        rings += r.asInstanceOf[ArrayData]
        holeSets += h.asInstanceOf[ArrayData]
        values += struct(row).copy()
      }
    }
    val exteriors = rings.result()
    PipIndex.fromArrays(exteriors, holeSets.result(), values.result(),
      StructType(payload.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata))),
      resFor(exteriors))
  }

  /**
   * Resolution of the kernel route's index. The local polygon side's
   * envelope stats start from the building-scale default and COARSEN until
   * the estimated cover is ≤ [[CoverBudget]] cells per polygon, so a
   * continent-scale polygon gets a few hundred cover cells instead of
   * millions of 25 m cells. The cell route, whose polygon side is not known
   * before it runs, takes the default (building-footprint scale), and the
   * programmatic PipJoin API takes `res` directly. Any res gives correct
   * rows (hex_cover is a superset at every res — CellGridSpec property); res
   * only moves the filter/refine cost balance.
   */
  private def resFor(rings: Array[ArrayData]): Int = {
    // empty rings span -Infinity and NaN coordinates NaN: neither is a span
    val spans = rings.iterator.map(span).filter(s => s.isFinite && s >= 0)
    if (!spans.hasNext) return Res
    val max = spans.max
    var r = Res
    while (r > 0 && estCoverCells(max, r) > CoverBudget) r -= 1
    r
  }

  /** Estimated hex-cover cell count for a polygon with bbox span `s` at `res`
    * (axial lattice: column pitch 1.5·edge, row pitch √3·edge, +2 slack). */
  private def estCoverCells(s: Double, res: Int): Double = {
    val e = HexGrid.edge(res)
    (s / (1.5 * e) + 2.0) * (s / (math.sqrt(3.0) * e) + 2.0)
  }

  /** Bbox span (max of dx, dy) of a ring. */
  private def span(ring: ArrayData): Double = {
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
 * Injects the engine's SQL functions, the spatial-join rewrite and the
 * local kernel fold ([[LocalKernelFold]]) — a config-only deployment needs
 * no code call to `register`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
    GeoFunctionsImpl.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("org.apache.spark.sql.graft", name), builder))
    }
  }
}

/** Runtime attachment for an already-built session (tests, notebooks): the
  * rules run in Spark's last optimizer batch, after its own LocalRelation
  * batch. */
object GraftExtensions {
  /** The optimizer rules, in the order they run. */
  private val rules = Seq(SpatialJoinRewrite, LocalKernelFold)

  def enable(spark: org.apache.spark.sql.SparkSession): Unit = {
    GeoFunctionsImpl.register(spark)
    val cur = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = cur ++ rules.filterNot(cur.contains)
  }
}
