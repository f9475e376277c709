package graft.operators

import java.lang.ref.WeakReference

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/**
 * Shipping and reuse of the driver-built indexes of the map-only kernels
 * ([[PipIndex]], [[KnnIndex]], [[SetbackIndex]], [[TileIndex]]).
 *
 * [[broadcast]] ships an index as a Spark broadcast from the probe
 * DataFrame's own session: the expression carries only the handle, each
 * executor fetches the index once and every task there shares that one
 * instance and its lazy builds.
 *
 * [[shared]] builds each index once per input: repeated queries against one
 * unchanged polygon, centroid or ring set (a closed loop of small probe
 * batches) reuse one handle instead of re-collecting, re-building and
 * re-broadcasting it per call. A memo entry lives exactly as long as the
 * caller's input object:
 *  - the key is the input's reference identity — held through a
 *    `WeakReference` and never hashed, so a lookup never walks the input —
 *    plus the `SparkContext` and the build parameters (a kind tag first, so
 *    two index kinds over one input never collide);
 *  - entries whose input was collected or whose context stopped are dropped
 *    on every access, after which `ContextCleaner` frees the broadcast once
 *    no plan holds it. A memo never holds an entry past its input, so no
 *    entry lives for the session.
 * There is no conf key, no size cap and no eager `destroy()`: plans
 * re-execute (streaming micro-batches, repeated actions), and the handle
 * lives as long as its input or a plan holding it does.
 *
 * A Dataset input is memoized only when its rows cannot change between
 * calls ([[sharedRows]]): a deterministic plan over in-memory
 * `LocalRelation`s. A file- or range-backed Dataset is collected afresh on
 * every call.
 *
 * The SQL `st_covers` join over a local polygon side
 * (`org.apache.spark.sql.graft.SpatialJoinRewrite`) is not memoized: the
 * optimizer re-materializes the view's rows on every query, so no input
 * object outlives the query to bound an entry, and it builds and
 * broadcasts a [[PipIndex]] per query.
 */
private[graft] object PlanIndex {

  def broadcast[T: ClassTag](probes: DataFrame, index: T): Broadcast[T] =
    probes.sparkSession.sparkContext.broadcast(index)

  private final class Entry(val input: WeakReference[AnyRef], val sc: WeakReference[SparkContext],
                            val params: Seq[Any], val value: Any) {
    def live: Boolean = {
      val c = sc.get
      input.get != null && c != null && !c.isStopped
    }
  }

  // few entries (one per live input and parameter set): a linear scan by
  // identity beats hashing a 100k-vertex input
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

  /** The entries whose input and context live; call under `entries`' lock. */
  private def purged = entries.filterInPlace(_.live)

  /** `build`'s value, built once for as long as `input` is alive in
    * `probes`' SparkContext with these `params`. The value must not
    * reference `input`, or its entry would keep the input alive. `build`
    * runs outside the memo's lock; two racing first calls may both build,
    * and the first to finish is kept. */
  def shared[V](probes: DataFrame, input: AnyRef, params: Any*)(build: => V): V = {
    val sc = probes.sparkSession.sparkContext
    def find(): Option[Any] = entries.synchronized {
      purged.find(e => (e.input.get eq input) && (e.sc.get eq sc) && e.params == params).map(_.value)
    }
    find().getOrElse {
      val v = build
      entries.synchronized {
        find().getOrElse {
          entries += new Entry(new WeakReference(input), new WeakReference(sc), params, v)
          v
        }
      }
    }.asInstanceOf[V]
  }

  /** [[shared]] for a Dataset input whose rows cannot change between calls:
    * a deterministic plan whose every leaf is a `LocalRelation`. Any other
    * input (files, ranges, tables) builds afresh on every call. */
  def sharedRows[V](probes: DataFrame, input: Dataset[_], params: Any*)(build: => V): V = {
    val plan = input.queryExecution.analyzed
    if (plan.deterministic && plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
      shared(probes, input, params: _*)(build)
    else build
  }

  /** Live memo entries (tests: no entry outlives its input). */
  private[graft] def entryCount: Int = entries.synchronized(purged.size)
}
