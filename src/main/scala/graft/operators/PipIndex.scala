package graft.operators

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellBuckets, HexGrid}
import graft.model.Footprint

/**
 * Cell-bucketed polygon index behind the PIP join ([[PipJoin.auto]]).
 * Ships to each executor once, as a Spark broadcast ([[PlanIndex]]): the
 * `pip_matches` expression holds only the handle, every task on an executor
 * probes the one shared instance, and its lazy builds run once there (in
 * local mode the instance is the driver's own object).
 *
 * Storage is a few flat primitive arrays (the [[SetbackIndex]] layout):
 * polygon p's rings are [polyOff(p), polyOff(p+1)) — exterior first, then
 * its holes in order — and ring r's vertices are [ringOff(r), ringOff(r+1))
 * of xs/ys. The refine structures and the cell table are built lazily from
 * those arrays, and stay flat too, because a memoized index
 * ([[PlanIndex.shared]]) stays resident for as long as its polygon `Seq`:
 *  - per polygon, the exterior ring's envelope and 16 y-stripes over it;
 *    stripe s of polygon p lists [start(p·16+s), start(p·16+s+1)) of one
 *    flat edge table, each edge by the global index of its first vertex,
 *    ring by ring in edge order (a counting sort);
 *  - the hex-cover [[CellBuckets]] table over those envelopes.
 * Measured by `graft.operators.IndexCostProbe` on a 7000-footprint city of
 * sixteen-vertex stars (112,000 vertices), in one JVM on a shared 4-core
 * host: the index Java-serializes to 1.89 MB; its lazy build takes ~20 ms
 * (once per executor) and adds 3.0 MB of settled heap to the 2.3 MB the
 * serialized arrays hold.
 *
 * `matches(x, y)` returns Catalyst ArrayData of matched feature ids in
 * polygon-ordinal order (duplicate ids kept; UTF8Strings built once),
 * and a SHARED empty array for misses, so the per-row cost on the
 * 10^12-row scan is: one hex encode (primitive math), one hash probe, and —
 * only for candidate cells — the exact boundary-inclusive refine, which is
 * allocation-free. The result array is allocated on the first covering
 * polygon: zero allocation on the miss path.
 */
final class PipIndex(polys: Seq[Footprint], res: Int) extends Serializable {
  // the cell table is lazy: check here so a bad res fails on the driver, not in a task
  require(res >= 0 && res <= HexGrid.MaxRes, s"PIP res must be in [0, ${HexGrid.MaxRes}], got $res")

  private val ids: Array[UTF8String] = polys.map(f => UTF8String.fromString(f.feature_id)).toArray
  private val polyOff: Array[Int] = polys.map(1 + _.holes.size).scanLeft(0)(_ + _).toArray
  private val ringOff: Array[Int] =
    polys.iterator.flatMap(f => f.ring +: f.holes).map(_.size).scanLeft(0)(_ + _).toArray
  private val xs = new Array[Double](ringOff.last)
  private val ys = new Array[Double](ringOff.last)
  locally {
    var j = 0
    polys.foreach(f => (f.ring +: f.holes).foreach(_.foreach { p => xs(j) = p.x; ys(j) = p.y; j += 1 }))
  }

  import PipIndex.Stripes

  // The lazy builds loop per polygon through small methods, as the refine
  // does per candidate: one long loop in a lazy initializer runs mostly
  // interpreted (it is entered once per index), and measured ~10x slower.

  /** Per polygon (minx, miny, maxx, maxy) of its exterior ring, NaN vertices
    * skipped (`Geom.Polygon.env`); ±∞ for an empty ring, which covers nothing. */
  @transient private lazy val env: Array[Double] = {
    val e = new Array[Double](4 * ids.length)
    var p = 0
    while (p < ids.length) { envOf(p, e); p += 1 }
    e
  }

  private def envOf(p: Int, e: Array[Double]): Unit = {
    var nx, ny = Double.PositiveInfinity
    var xx, xy = Double.NegativeInfinity
    var j = ringOff(polyOff(p))
    while (j < ringOff(polyOff(p) + 1)) {
      if (xs(j) < nx) nx = xs(j); if (xs(j) > xx) xx = xs(j)
      if (ys(j) < ny) ny = ys(j); if (ys(j) > xy) xy = ys(j)
      j += 1
    }
    e(4 * p) = nx; e(4 * p + 1) = ny; e(4 * p + 2) = xx; e(4 * p + 3) = xy
  }

  /** The stripe table: see the class doc. A counting sort: count each
    * stripe's edges, then file them. */
  @transient private lazy val stripes: PipIndex.StripeTable = {
    val e = env
    val n = ids.length * Stripes
    val start = new Array[Int](n + 1)
    var p = 0
    while (p < ids.length) { fileEdges(p, e, start, null, null); p += 1 }
    var s = 0
    while (s < n) { start(s + 1) += start(s); s += 1 }
    val edges = new Array[Int](start(n))
    val fill = java.util.Arrays.copyOf(start, n)
    p = 0
    while (p < ids.length) { fileEdges(p, e, null, edges, fill); p += 1 }
    new PipIndex.StripeTable(start, edges)
  }

  /** Polygon `p`'s edges by stripe: counted into `count(s + 1)` while
    * `edges` is null, else filed at `edges(fill(s))`. */
  private def fileEdges(p: Int, e: Array[Double], count: Array[Int],
                        edges: Array[Int], fill: Array[Int]): Unit = {
    var r = polyOff(p)
    while (r < polyOff(p + 1)) {
      val from = ringOff(r)
      val until = ringOff(r + 1)
      // a closing vertex equal to the first adds no edge
      val last = if (until - from > 1 && xs(from) == xs(until - 1) && ys(from) == ys(until - 1))
        until - 1 else until
      var a = from
      while (a < last) {
        val b = if (a + 1 < last) a + 1 else from
        var s = p * Stripes + PipIndex.stripe(e, p, math.min(ys(a), ys(b)))
        val hi = p * Stripes + PipIndex.stripe(e, p, math.max(ys(a), ys(b)))
        while (s <= hi) {
          if (edges == null) count(s + 1) += 1
          else { edges(fill(s)) = a; fill(s) += 1 }
          s += 1
        }
        a += 1
      }
      r += 1
    }
  }

  /** cell → polygon ordinals over each polygon's hex cover (of its envelope). */
  @transient private[operators] lazy val buckets: CellBuckets =
    CellBuckets.build(Array.tabulate(ids.length)(p =>
      HexGrid.coverBox(env(4 * p), env(4 * p + 1), env(4 * p + 2), env(4 * p + 3), res)))

  /** Boundary-inclusive cover test of polygon `p`, allocation-free. Even-odd
    * parity per ring over the point's stripe (a ring's edges are contiguous
    * there): inside when the exterior's parity is odd and every hole's even,
    * unless the point lies on any edge. Agrees with `Geom.Polygon.covers`
    * (GeomSpec, seeded property). */
  private[graft] def covers(p: Int, x: Double, y: Double): Boolean = {
    if (!(x >= env(4 * p) && x <= env(4 * p + 2) && y >= env(4 * p + 1) && y <= env(4 * p + 3)))
      return false
    val table = stripes
    val start = table.start
    val edges = table.edges
    val s = p * Stripes + PipIndex.stripe(env, p, y)
    val exterior = polyOff(p)
    var r = exterior
    var inside, inHole, odd = false
    var k = start(s)
    while (k < start(s + 1)) {
      val a = edges(k)
      if (a >= ringOff(r + 1)) {
        if (r == exterior) inside = odd else if (odd) inHole = true
        while (a >= ringOff(r + 1)) r += 1
        odd = false
      }
      // the edge's end: the next vertex; past the ring's last, its first
      val b = if (a + 1 < ringOff(r + 1)) a + 1 else ringOff(r)
      val ax = xs(a); val ay = ys(a); val bx = xs(b); val by = ys(b)
      val cross = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
      // on the edge (a NaN cross product falls through to the box test)
      if (!(math.abs(cross) > 1e-12 * (math.abs(bx - ax) + math.abs(by - ay) + 1.0)) &&
          x >= math.min(ax, bx) - 1e-12 && x <= math.max(ax, bx) + 1e-12 &&
          y >= math.min(ay, by) - 1e-12 && y <= math.max(ay, by) + 1e-12) return true
      if ((ay > y) != (by > y) && x < ax + (y - ay) / (by - ay) * (bx - ax)) odd = !odd
      k += 1
    }
    if (r == exterior) inside = odd else if (odd) inHole = true
    inside && !inHole
  }

  private val EmptyArray = new GenericArrayData(new Array[Any](0))

  /** Matched feature ids as ArrayData (shared empty instance on miss). */
  def matches(x: Double, y: Double): ArrayData = {
    val cand = buckets(HexGrid.encode(x, y, res))
    if (cand == null) return EmptyArray
    var hit: Array[Any] = null
    var n = 0
    var i = 0
    while (i < cand.length) {
      val c = cand(i)
      if (covers(c, x, y)) {
        if (hit == null) hit = new Array[Any](cand.length - i)
        hit(n) = ids(c); n += 1
      }
      i += 1
    }
    if (n == 0) EmptyArray
    else if (n == hit.length) new GenericArrayData(hit)
    else new GenericArrayData(
      java.util.Arrays.copyOf(hit.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[Any]])
  }
}

object PipIndex {
  /** y-stripes per polygon: the refine scans the edges of one stripe. */
  private val Stripes = 16

  /** Polygon `p`'s stripe of `y` over its envelope `env(4p .. 4p+3)`: 16
    * equal y-bands, clamped to the first and last. */
  private def stripe(env: Array[Double], p: Int, y: Double): Int = {
    val step = math.max((env(4 * p + 3) - env(4 * p + 1)) / Stripes, 1e-300)
    val s = ((y - env(4 * p + 1)) / step).toInt
    if (s < 0) 0 else if (s >= Stripes) Stripes - 1 else s
  }

  private final class StripeTable(val start: Array[Int], val edges: Array[Int])
}
