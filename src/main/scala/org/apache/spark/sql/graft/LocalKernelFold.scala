package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE

/**
 * Catalyst optimizer rule: evaluates the PIP and kNN kernels over a local
 * probe batch on the driver, so such a query runs no Spark job.
 *
 * Spark already folds a projection or filter over a `LocalRelation` into a
 * new `LocalRelation` (`ConvertToLocalRelation`), which is why a
 * `setback_nearest` projection over local probes runs no job. It does not
 * fold a `Generate`, so `explode(pip_matches(...))` over the same probes
 * used to run one job per query. This rule folds exactly that shape:
 *
 *   Generate(explode | posexplode | inline [_outer] of pip_matches or
 *            knn_matches, child = non-streaming LocalRelation)
 *
 * when the generator is deterministic. The result is a `LocalRelation` of
 * UnsafeRows with the Generate's output (its `unrequiredChildIndex` and
 * `outer` honoured), and each Project/Filter/Limit above it is then folded
 * by `ConvertToLocalRelation`, bottom up. The index the kernel probes was
 * built on the driver, so its broadcast `value` there transfers nothing.
 * Like its input, the output is held on the driver: k matches per probe
 * make it k times the probe batch.
 *
 * Only these two kernels are folded. A generic Generate fold was measured
 * and rejected: `tile_matches`' ~310k output rows per 1000 probes went
 * through one driver thread (435 → 887 ms per query), and the relational
 * `hex_cover` explode moved 7000 polygon covers onto the driver (383 →
 * 444–480 ms).
 *
 * Installed by [[GraftExtensions]]: inside Spark's operator-optimization
 * batch for an extension session, after Spark's own LocalRelation batch for
 * [[GraftExtensions.enable]]. Plans without a Generate are not walked.
 */
object LocalKernelFold extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(GENERATE))(kernelOverLocal.orElse(overLocal))

  private val kernelOverLocal: PartialFunction[LogicalPlan, LogicalPlan] = {
    case g @ Generate(gen, _, _, _, _, lr: LocalRelation)
        if !lr.isStreaming && gen.deterministic && isKernel(gen) => fold(g, lr)
  }

  /** A Project/Filter/Limit over a LocalRelation, evaluated into one. Under
    * a node [[apply]] walks, that LocalRelation is one it folded. */
  private val overLocal: PartialFunction[LogicalPlan, LogicalPlan] = {
    case u: UnaryNode if u.child.isInstanceOf[LocalRelation] => ConvertToLocalRelation(u)
  }

  /** `plan` as one non-streaming LocalRelation, when `ConvertToLocalRelation`
    * applied bottom up folds it into one. */
  private[graft] def local(plan: LogicalPlan): Option[LocalRelation] =
    plan.transformUp(overLocal) match {
      case lr: LocalRelation if !lr.isStreaming => Some(lr)
      case _ => None
    }

  /** explode/posexplode/inline of pip_matches or knn_matches. */
  private def isKernel(gen: Generator): Boolean = gen.children match {
    case Seq(_: PipMatchesExpr | _: KnnMatchesExpr) => gen.isInstanceOf[ExplodeBase] || gen.isInstanceOf[Inline]
    case _ => false
  }

  /** `g` evaluated over `lr`'s rows, as GenerateExec would per row. */
  private def fold(g: Generate, lr: LocalRelation): LocalRelation = {
    val gen = BindReferences.bindReference(g.generator: Expression, lr.output).asInstanceOf[Generator]
    val project = UnsafeProjection.create(g.output, lr.output ++ g.qualifiedGeneratorOutput)
    val nulls = new GenericInternalRow(g.generatorOutput.length)
    val joined = new JoinedRow
    val rows = lr.data.flatMap { row =>
      val out = gen.eval(row).iterator
      val generated = if (g.outer && !out.hasNext) Iterator.single(nulls) else out
      generated.map(r => project(joined(row, r)).copy())
    }
    LocalRelation(g.output, rows)
  }
}
