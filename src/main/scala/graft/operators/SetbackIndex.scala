package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.RingKernels
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellBuckets, HexGrid}

/**
 * Nearest-ring-boundary index for the codegen setback path (shipped like
 * [[KnnIndex]] / [[PipIndex]]: once per executor as a Spark broadcast,
 * [[PlanIndex]]; the `setback_nearest` expression holds only the handle and
 * every task on an executor probes one shared instance, each thread with its
 * own [[SetbackIndex.Probe]]): generated code calls `nearest(x, y)` directly
 * — no join, no exchange, no rounds on the point scan.
 *
 * Filter-then-refine over cell approximations (Raster Intervals, SIGMOD
 * 2023): rings bucket by their [[HexGrid.cover]] cells at `res` — exactly
 * the buckets [[Setback.ringSearch]] joins on — in an open-addressing
 * primitive table. A point walks hex rings outward from its own cell and
 * scores each newly met ring ONCE, over the flat vertex arrays, with
 * [[RingKernels.dist2ToRing]]'s per-edge kernel ([[RingKernels.edgeDist2]])
 * in its edge order ([[SetbackIndex.ringDist2]]), so results are
 * bit-identical to the relational paths. The walk is the shared
 * [[KnnJoin.ringWalk]] with k = 1: after ring r, a ring not yet met has
 * every boundary point in a cell at hex distance ≥ r+1, hence at distance
 * ≥ [[KnnJoin.ringLowerBound]](res, r+1); once `sqrt(best)` is STRICTLY below that, no unmet ring can beat or
 * tie the best. Points still open after `maxR` (far field) fall back to the
 * exact linear scan.
 *
 * Rings without a finite bbox — empty rings (the kernel's NaN) or
 * non-finite coordinates — have no cover; they are scored for every point
 * instead. The stop rule only reasons about bucketed rings, so this costs
 * time, never exactness.
 *
 * Order semantics are those of `min(struct(d2, fid))`: d2 under Spark's
 * double ordering (NaN above every number), ties on fid. Rings are
 * pre-sorted by fid (binary UTF-8 order, nulls first), so ordinal order IS
 * fid order and ties compare ordinals. A null point scores null against
 * every ring, so — as under the min — it gets (fid of ordinal 0, null).
 *
 * `nearest` returns struct<fid:string, d2:double>, or null when there are
 * no rings.
 *
 * A memoized index ([[PlanIndex.sharedRows]]) stays resident, so the lazy
 * part is only the cell table and the loose-ring list; the rings are scored
 * straight from the serialized flat arrays, with no per-ring wrapper.
 * Measured by `graft.operators.IndexCostProbe` on a 7000-ring city (112,000
 * vertices, 48,848 cover cells at res 12) in one JVM on a shared 4-core
 * host: 1.86 MB serialized; the lazy build takes ~13 ms and adds 3.6 MB of
 * settled heap to the 2.2 MB the serialized arrays hold.
 */
final class SetbackIndex(rings: Seq[(String, Array[Double], Array[Double])],
                         res: Int = 12, maxR: Int = 16) extends Serializable {

  rings.foreach { case (fid, xs, ys) =>
    require(xs != null && ys != null,
      s"setback_nearest: ring '$fid' has null xs/ys — every ring needs vertex arrays")
  }

  // flat vertex storage (ring i = [off(i), off(i+1)), cut to the kernel's
  // min(|xs|, |ys|)): the index serializes as a few bulk arrays
  private val (fids, xsFlat, ysFlat, off) = {
    val sorted = rings.sortBy(r => Option(r._1).map(UTF8String.fromString))(
      Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)))
    val off = sorted.map(r => math.min(r._2.length, r._3.length)).scanLeft(0)(_ + _).toArray
    val xf = new Array[Double](off.last); val yf = new Array[Double](off.last)
    sorted.iterator.zipWithIndex.foreach { case ((_, xs, ys), i) =>
      System.arraycopy(xs, 0, xf, off(i), off(i + 1) - off(i))
      System.arraycopy(ys, 0, yf, off(i), off(i + 1) - off(i))
    }
    (sorted.map(r => UTF8String.fromString(r._1)).toArray, xf, yf, off)
  }
  private val n = fids.length

  def isEmpty: Boolean = n == 0

  /** cell → ring ordinals, plus the ordinals scored for every point. */
  @transient private[operators] lazy val buckets: (CellBuckets, Array[Int]) = {
    val loose = Array.newBuilder[Int]
    val cells = Array.tabulate(n) { i =>
      // the ring's env, computed as Geom.Polygon.env does (NaN vertices skipped)
      var nx, ny = Double.PositiveInfinity
      var xx, xy = Double.NegativeInfinity
      var j = off(i)
      while (j < off(i + 1)) {
        val x = xsFlat(j); val y = ysFlat(j)
        if (x < nx) nx = x; if (x > xx) xx = x
        if (y < ny) ny = y; if (y > xy) xy = y
        j += 1
      }
      val w = xx - nx; val h = xy - ny
      if (w >= 0 && h >= 0 && !w.isInfinite && !h.isInfinite)
        HexGrid.coverBox(nx, ny, xx, xy, res)
      else { loose += i; null }
    }
    (CellBuckets.build(cells), loose.result())
  }

  /** Per-thread probe state: running best and a generation-stamped visited
    * set, so a ring met through several cover cells is scored once. */
  @transient private lazy val probes: ThreadLocal[SetbackIndex.Probe] =
    ThreadLocal.withInitial(() => new SetbackIndex.Probe(n))

  private def score(p: SetbackIndex.Probe, i: Int, x: Double, y: Double): Unit =
    if (p.visit(i)) {
      val d2 = SetbackIndex.ringDist2(xsFlat, ysFlat, off(i), off(i + 1), x, y)
      if (p.best < 0) { p.best = i; p.bestD2 = d2 }
      else {
        val c = SQLOrderingUtil.compareDoubles(d2, p.bestD2)
        if (c < 0 || (c == 0 && i < p.best)) { p.best = i; p.bestD2 = d2 }
      }
    }

  /** Nearest ring boundary of (x, y) as struct(fid, d2); null without rings. */
  def nearest(x: Double, y: Double): InternalRow = {
    if (n == 0) return null
    val p = probes.get()
    p.reset()
    val (table, loose) = buckets
    var j = 0
    while (j < loose.length) { score(p, loose(j), x, y); j += 1 }
    // ring budget exhausted before the stop bound (far-field point or sparse
    // rings): exact linear scan over the rings not yet scored
    if (!KnnJoin.ringWalk(table, x, y, res, maxR, score(p, _, x, y),
        () => if (p.best < 0) Double.PositiveInfinity else p.bestD2)) {
      var i = 0
      while (i < n) { score(p, i, x, y); i += 1 }
    }
    new GenericInternalRow(Array[Any](fids(p.best), p.bestD2))
  }

  /** The row `min(struct(d2, fid))` yields for a null x or y: every d2 is
    * null, so the lowest fid wins. Null without rings. */
  def nullPoint(): InternalRow =
    if (n == 0) null else new GenericInternalRow(Array[Any](fids(0), null))
}

object SetbackIndex {

  /** Index over collected (fid, xs, ys) rows. */
  def fromRows(rows: Array[Row], res: Int, maxR: Int): SetbackIndex =
    new SetbackIndex(rows.toSeq.map { r =>
      def coords(i: Int): Array[Double] = {
        val s = r.getAs[scala.collection.Seq[Any]](i)
        if (s == null) null
        else {
          require(!s.contains(null),
            s"setback_nearest: ring '${r.getString(0)}' has a null vertex coordinate")
          s.map(_.asInstanceOf[Double]).toArray
        }
      }
      (r.getString(0), coords(1), coords(2))
    }, res, maxR)

  /** [[RingKernels.dist2ToRing]] of the ring at [from, until) of flat
    * vertex arrays: the same per-edge kernel over the same edges in the same
    * order, so the same bits (SetbackSpec). */
  private[operators] def ringDist2(xs: Array[Double], ys: Array[Double], from: Int, until: Int,
                                   px: Double, py: Double): Double = {
    if (until == from) return Double.NaN
    var best = Double.MaxValue
    var i = from
    while (i < until) {
      val j = if (i + 1 == until) from else i + 1
      val d2 = RingKernels.edgeDist2(xs(i), ys(i), xs(j), ys(j), px, py)
      if (d2 < best) best = d2
      i += 1
    }
    best
  }

  private[operators] final class Probe(n: Int) {
    private val stamps = new Array[Int](n)
    private var gen = 0
    var best: Int = -1
    var bestD2: Double = 0.0

    def reset(): Unit = {
      gen += 1
      if (gen == 0) { java.util.Arrays.fill(stamps, 0); gen = 1 }
      best = -1
    }

    /** True the first time ordinal `i` is seen since the last reset. */
    def visit(i: Int): Boolean =
      if (stamps(i) == gen) false else { stamps(i) = gen; true }
  }
}
