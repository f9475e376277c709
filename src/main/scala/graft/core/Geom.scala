package graft.core

/**
 * Planar / 3D geometry primitives for the spatial-join engine.
 *
 * Semantics deliberately reproduce the reference engine's (tum-gis/3dcitykg):
 *  - AABB intersection keeps *touching* boxes (strict-inequality disjoint test),
 *    see reference `Neo4jDB.java:373-385`.
 *  - bbox volume-overlap matching collapses degenerate (zero-thickness) dimensions
 *    from volume to area with tolerance, see reference `CityGMLV2DB.java:339-381`.
 *  - empty bbox filter string means the infinite box ±1e9,
 *    see reference `CityKGDBConfig.java:16-25`.
 *
 * Point-in-polygon is boundary-INCLUSIVE (JTS `covers` semantics): a point exactly
 * on an edge or vertex is inside. Implemented with the classic even-odd ray cast
 * plus an explicit on-segment test so boundary cases are deterministic.
 */
object Geom {

  final case class Pt(x: Double, y: Double)

  /** 3D axis-aligned bounding box (reference `GraphUtils.getBoundingBox` shape). */
  final case class Env(minx: Double, miny: Double, minz: Double,
                       maxx: Double, maxy: Double, maxz: Double) {

    /** Touching boxes are NOT disjoint (reference `Neo4jDB.java:378-380`). */
    def intersects2D(o: Env): Boolean =
      !(minx > o.maxx || maxx < o.minx || miny > o.maxy || maxy < o.miny)

    def intersects3D(o: Env): Boolean =
      intersects2D(o) && !(minz > o.maxz || maxz < o.minz)

    def contains2D(x: Double, y: Double): Boolean =
      x >= minx && x <= maxx && y >= miny && y <= maxy

    def union(o: Env): Env = Env(
      math.min(minx, o.minx), math.min(miny, o.miny), math.min(minz, o.minz),
      math.max(maxx, o.maxx), math.max(maxy, o.maxy), math.max(maxz, o.maxz))
  }

  object Env {
    /** Empty/missing filter box = "everything" (reference `CityKGDBConfig.java:16-25`). */
    val Infinite: Env = Env(-1e9, -1e9, -1e9, 1e9, 1e9, 1e9)
  }

  /**
   * Volume-overlap bbox match (reference `CityGMLV2DB.matchBbox`,
   * `CityGMLV2DB.java:339-381`): the overlap volume ratio must exceed
   * `percentVolPass` on BOTH sides; dimensions thinner than `tol` on both boxes
   * are treated as degenerate and dropped (volume collapses to area, then line).
   */
  def matchBbox(a: Env, b: Env, tol: Double, percentVolPass: Double): Boolean = {
    val dims = Array(
      (a.minx, a.maxx, b.minx, b.maxx),
      (a.miny, a.maxy, b.miny, b.maxy),
      (a.minz, a.maxz, b.minz, b.maxz))
    var overlap = 1.0
    var volA = 1.0
    var volB = 1.0
    dims.foreach { case (alo, ahi, blo, bhi) =>
      val ea = ahi - alo
      val eb = bhi - blo
      val degenerate = ea <= tol && eb <= tol
      if (!degenerate) {
        overlap *= math.max(0.0, math.min(ahi, bhi) - math.max(alo, blo))
        volA *= ea
        volB *= eb
      }
    }
    if (volA <= 0.0 || volB <= 0.0) false
    else overlap / volA > percentVolPass && overlap / volB > percentVolPass
  }

  /** Simple polygon with optional holes; exterior ring may be open or closed. */
  final case class Polygon(ring: Array[Pt], holes: Array[Array[Pt]] = Array.empty) extends Serializable {
    lazy val env: Env = {
      var nx, ny = Double.PositiveInfinity
      var xx, xy = Double.NegativeInfinity
      var i = 0
      while (i < ring.length) {
        val p = ring(i)
        if (p.x < nx) nx = p.x; if (p.x > xx) xx = p.x
        if (p.y < ny) ny = p.y; if (p.y > xy) xy = p.y
        i += 1
      }
      Env(nx, ny, 0, xx, xy, 0)
    }

    lazy val centroid: Pt = Polygon.ringCentroid(ring)

    def area: Double = math.abs(Polygon.signedArea(ring)) -
      holes.map(h => math.abs(Polygon.signedArea(h))).sum

    /** Boundary-inclusive point-in-polygon (holes' boundaries count as inside). */
    def covers(x: Double, y: Double): Boolean = {
      if (!env.contains2D(x, y)) return false
      val onOuter = Polygon.onBoundary(ring, x, y)
      if (onOuter) return true
      if (!Polygon.rayCast(ring, x, y)) return false
      // inside outer ring: excluded only if strictly inside a hole
      var i = 0
      while (i < holes.length) {
        val h = holes(i)
        if (Polygon.onBoundary(h, x, y)) return true
        if (Polygon.rayCast(h, x, y)) return false
        i += 1
      }
      true
    }
  }

  object Polygon {
    private val Eps = 1e-12

    def signedArea(ring: Array[Pt]): Double = {
      var s = 0.0
      val n = effLen(ring)
      var i = 0
      while (i < n) {
        val a = ring(i); val b = ring((i + 1) % n)
        s += a.x * b.y - b.x * a.y
        i += 1
      }
      s / 2.0
    }

    def ringCentroid(ring: Array[Pt]): Pt = {
      val n = effLen(ring)
      val a = signedArea(ring)
      if (math.abs(a) < Eps) { // degenerate: average of vertices
        var sx = 0.0; var sy = 0.0
        var i = 0
        while (i < n) { sx += ring(i).x; sy += ring(i).y; i += 1 }
        return Pt(sx / n, sy / n)
      }
      var cx = 0.0; var cy = 0.0
      var i = 0
      while (i < n) {
        val p = ring(i); val q = ring((i + 1) % n)
        val cross = p.x * q.y - q.x * p.y
        cx += (p.x + q.x) * cross
        cy += (p.y + q.y) * cross
        i += 1
      }
      Pt(cx / (6.0 * a), cy / (6.0 * a))
    }

    /** ring length ignoring an explicit closing vertex equal to the first. */
    private def effLen(ring: Array[Pt]): Int = {
      val n = ring.length
      if (n > 1 && ring(0).x == ring(n - 1).x && ring(0).y == ring(n - 1).y) n - 1 else n
    }

    def onBoundary(ring: Array[Pt], x: Double, y: Double): Boolean = {
      val n = effLen(ring)
      var i = 0
      while (i < n) {
        val a = ring(i); val b = ring((i + 1) % n)
        if (onSegment(a, b, x, y)) return true
        i += 1
      }
      false
    }

    private def onSegment(a: Pt, b: Pt, x: Double, y: Double): Boolean = {
      val cross = (b.x - a.x) * (y - a.y) - (b.y - a.y) * (x - a.x)
      if (math.abs(cross) > Eps * (math.abs(b.x - a.x) + math.abs(b.y - a.y) + 1.0)) return false
      x >= math.min(a.x, b.x) - Eps && x <= math.max(a.x, b.x) + Eps &&
        y >= math.min(a.y, b.y) - Eps && y <= math.max(a.y, b.y) + Eps
    }

    /** Even-odd ray cast; boundary handled separately via [[onBoundary]]. */
    def rayCast(ring: Array[Pt], x: Double, y: Double): Boolean = {
      val n = effLen(ring)
      var inside = false
      var i = 0
      var j = n - 1
      while (i < n) {
        val yi = ring(i).y; val yj = ring(j).y
        val xi = ring(i).x; val xj = ring(j).x
        if ((yi > y) != (yj > y)) {
          val xint = xi + (y - yi) / (yj - yi) * (xj - xi)
          if (x < xint) inside = !inside
        }
        j = i
        i += 1
      }
      inside
    }
  }
}
