package graft.operators

import graft.core.{CellBuckets, HexGrid}

/**
 * kNN index over target centroids for the codegen kNN path (shipped like
 * [[PipIndex]]: once per executor as a Spark broadcast, [[PlanIndex]]; the
 * `knn_matches` expression holds only the handle and every task on an
 * executor probes one shared instance): generated code calls `matches(x, y)`
 * directly — no join, no shuffle, no Encoder round-trip on the probe scan.
 * Scratch is allocated per call, so concurrent tasks share it safely.
 *
 * Two internal strategies, selected once at build time:
 *  - `n ≤ linearLimit`: a linear scan over primitive coordinate arrays with
 *    an insertion top-k (k·n flops, zero per-candidate allocation) — for
 *    city-scale target sets this beats walking hex rings, especially for
 *    far-field probes whose ring radius would be huge;
 *  - otherwise: the shared hex-cell ring walk [[KnnJoin.ringWalk]] with
 *    its provable stop bound, buckets in the primitive-key
 *    [[graft.core.CellBuckets]] table.
 *
 * Tie-break: (d2, target_id) ascending — targets are pre-sorted by id, so
 * ordinal order IS id order and the insertion sort compares ordinals.
 *
 * `matches` returns ArrayData of struct<target_id:string,d2:double,rnk:int>
 * (rank precomputed — no downstream window needed).
 */
final class KnnIndex(targets: Seq[(String, Double, Double)], val k: Int,
                     res: Int = 12, maxR: Int = 64, linearLimit: Int = 512)
    extends Serializable {

  // flat arrays only: a memoized index stays resident ([[PlanIndex.shared]])
  private val (tids, txs, tys) = {
    val sorted = targets.sortBy(_._1).toArray
    (sorted.map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t._1)),
      sorted.map(_._2), sorted.map(_._3))
  }
  private val n = tids.length
  private val linear = n <= linearLimit

  /** cell → target ordinals (each target in the cell of its centroid). */
  @transient private[operators] lazy val buckets: CellBuckets = CellBuckets.build(
    Array.tabulate(n)(i => Array(HexGrid.encode(txs(i), tys(i), res))))

  private val EmptyArray =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))

  /** k nearest targets of (x, y) as struct rows, ranked 1..k. */
  def matches(x: Double, y: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (n == 0) return EmptyArray
    val kk = math.min(k, n)
    val bd = new Array[Double](kk)
    val bi = new Array[Int](kk)
    var filled = 0

    // (d2, ordinal) lexicographic insertion — ordinal order == target_id order
    def consider(i: Int, d2: Double): Unit = {
      if (filled == kk &&
          (d2 > bd(kk - 1) || (d2 == bd(kk - 1) && i > bi(kk - 1)))) return
      var p = if (filled < kk) filled else kk - 1
      while (p > 0 && (d2 < bd(p - 1) || (d2 == bd(p - 1) && i < bi(p - 1)))) {
        bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
      }
      bd(p) = d2; bi(p) = i
      if (filled < kk) filled += 1
    }

    def scan(i: Int): Unit = {
      val dx = txs(i) - x; val dy = tys(i) - y
      consider(i, dx * dx + dy * dy)
    }
    // the linear strategy, or the grid walk's exact fallback when the ring
    // budget runs out before the stop bound (far-field probe or sparse
    // targets) — never a silently truncated top-k
    if (linear || !KnnJoin.ringWalk(buckets, x, y, res, maxR, scan,
        () => if (filled == kk) bd(kk - 1) else Double.PositiveInfinity)) {
      filled = 0
      var i = 0
      while (i < n) { scan(i); i += 1 }
    }

    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](tids(bi(r)), bd(r), r + 1))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
