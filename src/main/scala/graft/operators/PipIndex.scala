package graft.operators

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellBuckets, HexGrid}
import graft.model.Footprint

/**
 * Cell-bucketed polygon index behind the two PIP kernel routes: the PIP join
 * ([[PipJoin.auto]]) and the SQL `st_covers` join over a local polygon side
 * (`org.apache.spark.sql.graft.SpatialJoinRewrite`). Ships to each executor
 * once, as a Spark broadcast ([[PlanIndex]]): the `pip_matches` expression
 * holds only the handle, every task on an executor probes the one shared
 * instance, and its lazy builds run once there (in local mode the instance
 * is the driver's own object).
 *
 * Each polygon carries one payload value, which `matches` returns for every
 * covering polygon, and `pip_matches` takes its element type from
 * [[payloadType]]:
 *  - `new PipIndex(polys, res)`: the feature id as a `UTF8String` (built
 *    once), for [[PipJoin.auto]];
 *  - [[PipIndex.fromArrays]]: one row struct per polygon holding the polygon
 *    columns a SQL plan reads above the join, for the rewrite.
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
 * `matches(x, y)` returns Catalyst ArrayData of the covering polygons'
 * payloads in polygon-ordinal order (duplicates kept), and a SHARED empty
 * array for misses, so the per-row cost on the 10^12-row scan is: one hex
 * encode (primitive math), one hash probe, and — only for candidate cells —
 * the exact boundary-inclusive refine, which is allocation-free. The result
 * array is allocated on the first covering polygon: zero allocation on the
 * miss path.
 */
final class PipIndex private (rings: PipIndex.Rings, payload: Array[AnyRef],
                              val payloadType: DataType, private[graft] val res: Int)
    extends Serializable {
  // the cell table is lazy: check here so a bad res fails on the driver, not in a task
  require(res >= 0 && res <= HexGrid.MaxRes, s"PIP res must be in [0, ${HexGrid.MaxRes}], got $res")

  /** The index of `polys`, each with its feature id as payload. */
  def this(polys: Seq[Footprint], res: Int) = this(PipIndex.Rings.of(polys),
    polys.map(f => UTF8String.fromString(f.feature_id): AnyRef).toArray, StringType, res)

  private val n = payload.length
  private val polyOff = rings.polyOff
  private val ringOff = rings.ringOff
  private val xs = rings.xs
  private val ys = rings.ys

  import PipIndex.Stripes

  // The lazy builds loop per polygon through small methods, as the refine
  // does per candidate: one long loop in a lazy initializer runs mostly
  // interpreted (it is entered once per index), and measured ~10x slower.

  /** Per polygon (minx, miny, maxx, maxy) of its exterior ring; ±∞ for an
    * empty ring, which covers nothing; unbounded (−∞, −∞, +∞, +∞) for a ring
    * with a NaN or infinite coordinate, whose edges through that vertex skew
    * `st_covers`' ray cast past the finite vertices' box. */
  @transient private lazy val env: Array[Double] = {
    val e = new Array[Double](4 * n)
    var p = 0
    while (p < n) { envOf(p, e); p += 1 }
    e
  }

  private def envOf(p: Int, e: Array[Double]): Unit = {
    var nx, ny = Double.PositiveInfinity
    var xx, xy = Double.NegativeInfinity
    var finite = true
    var j = ringOff(polyOff(p))
    while (j < ringOff(polyOff(p) + 1)) {
      finite &&= java.lang.Double.isFinite(xs(j)) && java.lang.Double.isFinite(ys(j))
      if (xs(j) < nx) nx = xs(j); if (xs(j) > xx) xx = xs(j)
      if (ys(j) < ny) ny = ys(j); if (ys(j) > xy) xy = ys(j)
      j += 1
    }
    if (!finite) { nx = Double.NegativeInfinity; ny = nx; xx = Double.PositiveInfinity; xy = xx }
    e(4 * p) = nx; e(4 * p + 1) = ny; e(4 * p + 2) = xx; e(4 * p + 3) = xy
  }

  private def unbounded(p: Int): Boolean = env(4 * p) == Double.NegativeInfinity

  /** The stripe table: see the class doc. A counting sort: count each
    * stripe's edges, then file them. */
  @transient private lazy val stripes: PipIndex.StripeTable = {
    val e = env
    val cells = n * Stripes
    val start = new Array[Int](cells + 1)
    var p = 0
    while (p < n) { fileEdges(p, e, start, null, null); p += 1 }
    var s = 0
    while (s < cells) { start(s + 1) += start(s); s += 1 }
    val edges = new Array[Int](start(cells))
    val fill = java.util.Arrays.copyOf(start, cells)
    p = 0
    while (p < n) { fileEdges(p, e, null, edges, fill); p += 1 }
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

  /** cell → polygon ordinals over each bounded polygon's hex cover (of its envelope). */
  @transient private[operators] lazy val buckets: CellBuckets =
    CellBuckets.build(Array.tabulate(n)(p => if (unbounded(p)) null
      else HexGrid.coverBox(env(4 * p), env(4 * p + 1), env(4 * p + 2), env(4 * p + 3), res)))

  /** The unbounded polygons, in ordinal order: candidates of every point. */
  @transient private lazy val loose: Array[Int] = (0 until n).filter(unbounded).toArray

  /** Boundary-inclusive cover test of polygon `p`, allocation-free, with
    * `st_covers`' semantics: true on the exterior's boundary; else false
    * outside it; else, hole by hole in order, true on the hole's boundary and
    * false strictly inside it; else true. Even-odd parity per ring over the
    * point's stripe: a ring's edges are contiguous there, so each ring is
    * decided when the next one starts. Agrees with `st_covers` bit for bit
    * (LocalKernelFoldSpec) and, on finite coordinates, with
    * `Geom.Polygon.covers` (GeomSpec, seeded property). */
  private[graft] def covers(p: Int, x: Double, y: Double): Boolean = {
    if (!(x >= env(4 * p) && x <= env(4 * p + 2) && y >= env(4 * p + 1) && y <= env(4 * p + 3)))
      return false
    val table = stripes
    val start = table.start
    val edges = table.edges
    val s = p * Stripes + PipIndex.stripe(env, p, y)
    val exterior = polyOff(p)
    var r = exterior
    var odd = false
    var k = start(s)
    while (k < start(s + 1)) {
      val a = edges(k)
      if (a >= ringOff(r + 1)) {
        // ring r is done: false when outside the exterior or strictly inside a hole
        if ((r == exterior) != odd) return false
        while (a >= ringOff(r + 1)) r += 1
        odd = false
      }
      // the edge's end: the next vertex; past the ring's last, its first
      val b = if (a + 1 < ringOff(r + 1)) a + 1 else ringOff(r)
      val ax = xs(a); val ay = ys(a); val bx = xs(b); val by = ys(b)
      // st_covers' arithmetic for its edge (j, i) = (a, b), so that every
      // decision, NaN and rounding included, is the same
      val cross = (ax - bx) * (y - by) - (ay - by) * (x - bx)
      if (math.abs(cross) <= 1e-12 * (math.abs(ax - bx) + math.abs(ay - by) + 1.0) &&
          x >= math.min(ax, bx) - 1e-12 && x <= math.max(ax, bx) + 1e-12 &&
          y >= math.min(ay, by) - 1e-12 && y <= math.max(ay, by) + 1e-12) return true
      if ((by > y) != (ay > y) && x < bx + (y - by) / (ay - by) * (ax - bx)) odd = !odd
      k += 1
    }
    (r == exterior) == odd
  }

  private val EmptyArray = new GenericArrayData(new Array[Any](0))

  /** The covering polygons' payloads as ArrayData (shared empty instance on miss). */
  def matches(x: Double, y: Double): ArrayData = {
    val cand = buckets(HexGrid.encode(x, y, res))
    val free = loose
    if (cand == null && free.length == 0) return EmptyArray
    val nc = if (cand == null) 0 else cand.length
    var hit: Array[Any] = null
    var m = 0
    var i, j = 0
    while (i < nc || j < free.length) {
      // the cell's candidates and the unbounded polygons, in ordinal order
      val c = if (j == free.length || (i < nc && cand(i) < free(j))) { i += 1; cand(i - 1) }
        else { j += 1; free(j - 1) }
      if (covers(c, x, y)) {
        if (hit == null) hit = new Array[Any](nc - i + free.length - j + 1)
        hit(m) = payload(c); m += 1
      }
    }
    if (m == 0) EmptyArray
    else if (m == hit.length) new GenericArrayData(hit)
    else new GenericArrayData(
      java.util.Arrays.copyOf(hit.asInstanceOf[Array[AnyRef]], m).asInstanceOf[Array[Any]])
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

  /** The flat ring arrays of the class doc. */
  private final class Rings(val polyOff: Array[Int], val ringOff: Array[Int],
                            val xs: Array[Double], val ys: Array[Double])

  private object Rings {
    def of(polys: Seq[Footprint]): Rings = {
      val polyOff = polys.map(1 + _.holes.size).scanLeft(0)(_ + _).toArray
      val ringOff = polys.iterator.flatMap(f => f.ring +: f.holes).map(_.size).scanLeft(0)(_ + _).toArray
      val xs = new Array[Double](ringOff.last)
      val ys = new Array[Double](ringOff.last)
      var j = 0
      polys.foreach(f => (f.ring +: f.holes).foreach(_.foreach { p => xs(j) = p.x; ys(j) = p.y; j += 1 }))
      new Rings(polyOff, ringOff, xs, ys)
    }
  }

  /**
   * The index of polygons given as Catalyst arrays — `rings(p)` an
   * `array<struct<x, y>>`, `holes(p)` an array of them, both non-null — with
   * `payload(p)` as polygon p's payload of type `payloadType`. Copies the
   * coordinates straight into the flat arrays: no `Footprint` or `XY` is
   * built.
   */
  def fromArrays(rings: Array[ArrayData], holes: Array[ArrayData], payload: Array[AnyRef],
                 payloadType: DataType, res: Int): PipIndex = {
    val n = rings.length
    val polyOff = new Array[Int](n + 1)
    var p = 0
    while (p < n) { polyOff(p + 1) = polyOff(p) + 1 + holes(p).numElements(); p += 1 }
    // every ring in storage order, by its ordinal: each exterior, then its holes
    def eachRing(visit: (Int, ArrayData) => Unit): Unit = {
      var r = 0
      var q = 0
      while (q < n) {
        visit(r, rings(q)); r += 1
        var h = 0
        while (h < holes(q).numElements()) { visit(r, holes(q).getArray(h)); r += 1; h += 1 }
        q += 1
      }
    }
    val ringOff = new Array[Int](polyOff(n) + 1)
    eachRing((r, a) => ringOff(r + 1) = ringOff(r) + a.numElements())
    val xs = new Array[Double](ringOff(polyOff(n)))
    val ys = new Array[Double](xs.length)
    eachRing { (r, a) =>
      var i = 0
      while (i < a.numElements()) {
        val v = a.getStruct(i, 2)
        xs(ringOff(r) + i) = v.getDouble(0); ys(ringOff(r) + i) = v.getDouble(1)
        i += 1
      }
    }
    new PipIndex(new Rings(polyOff, ringOff, xs, ys), payload, payloadType, res)
  }
}
