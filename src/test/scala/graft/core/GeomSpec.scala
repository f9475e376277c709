package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._

class GeomSpec extends AnyFunSuite {

  val fzk = Polygon(Array( // FZK-Haus ground footprint, fzk_haus_lod2_v2.gml:204-215
    Pt(457854, 5439083), Pt(457842, 5439083), Pt(457842, 5439093),
    Pt(457854, 5439093), Pt(457854, 5439083)))

  test("PIP: interior, exterior, boundary-inclusive (edge + vertex)") {
    assert(fzk.covers(457848, 5439088))
    assert(!fzk.covers(457841.99, 5439088))
    assert(!fzk.covers(457848, 5439095))
    assert(fzk.covers(457842, 5439088), "point on left edge")
    assert(fzk.covers(457854, 5439083), "point on vertex")
    assert(fzk.covers(457848, 5439093), "point on horizontal top edge")
  }

  test("PIP: polygon with hole") {
    val ring = Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10))
    val hole = Array(Pt(4, 4), Pt(6, 4), Pt(6, 6), Pt(4, 6))
    val p = Polygon(ring, Array(hole))
    assert(p.covers(2, 2))
    assert(!p.covers(5, 5), "inside hole")
    assert(p.covers(4, 5), "on hole boundary counts as covered")
    assert(p.covers(0, 0))
  }

  test("centroid and area of FZK footprint") {
    assert(math.abs(fzk.area - 120.0) < 1e-9) // GrossPlannedArea=120.00 in fixture
    assert(math.abs(fzk.centroid.x - 457848.0) < 1e-9)
    assert(math.abs(fzk.centroid.y - 5439088.0) < 1e-9)
  }

  test("AABB: touching boxes intersect (reference Neo4jDB.java:378-380 semantics)") {
    val a = Env(0, 0, 0, 1, 1, 1)
    val touching = Env(1, 0, 0, 2, 1, 1)
    val disjoint = Env(1.0001, 0, 0, 2, 1, 1)
    assert(a.intersects2D(touching))
    assert(a.intersects3D(touching))
    assert(!a.intersects2D(disjoint))
  }

  test("matchBbox: degenerate-dim collapse (CityGMLV2DB.java:354-377 semantics)") {
    val a = Env(0, 0, 5, 10, 10, 5)
    val b = Env(0, 0, 5, 10, 10, 5)
    assert(Geom.matchBbox(a, b, tol = 1e-6, percentVolPass = 0.9))
    val c = Env(5, 0, 5, 15, 10, 5)
    assert(!Geom.matchBbox(a, c, 1e-6, 0.9))
    assert(Geom.matchBbox(a, c, 1e-6, 0.4))
  }

  test("infinite box default covers everything (CityKGDBConfig.java:16-25)") {
    assert(Env.Infinite.contains2D(457848, 5439088))
    assert(Env.Infinite.intersects3D(Env(0, 0, 0, 1, 1, 1)))
  }

  private def jtsPoly(ring: Array[Pt]): org.locationtech.jts.geom.Polygon = {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val closed = if (ring.head == ring.last) ring else ring :+ ring.head
    gf.createPolygon(closed.map(p => new org.locationtech.jts.geom.Coordinate(p.x, p.y)))
  }

  test("property: PIP matches JTS covers on random star polygons (seeded)") {
    val rnd = new scala.util.Random(42)
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    var checked = 0
    for (_ <- 1 to 300) {
      val n = 3 + rnd.nextInt(7)
      val cx = rnd.nextDouble() * 200 - 100
      val cy = rnd.nextDouble() * 200 - 100
      val ring = Array.tabulate(n) { i =>
        val a = 2 * math.Pi * i / n
        val r = 1.0 + rnd.nextDouble() * 49.0
        Pt(cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val p = Polygon(ring)
      val jts = jtsPoly(ring)
      for (_ <- 1 to 30) {
        val x = rnd.nextDouble() * 320 - 160
        val y = rnd.nextDouble() * 320 - 160
        val pt = gf.createPoint(new org.locationtech.jts.geom.Coordinate(x, y))
        if (jts.getBoundary.distance(pt) > 1e-9) { // skip FP-ambiguous boundary
          assert(p.covers(x, y) === jts.covers(pt),
            s"PIP mismatch at ($x,$y) ring=${ring.mkString(";")}")
          checked += 1
        }
      }
    }
    assert(checked > 5000)
  }

  test("RingKernels: shoelace area/centroid on known shapes, orientation-invariant area") {
    import org.apache.spark.sql.graft.RingKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Double*) = new GenericArrayData(xs.toArray)
    // unit square CCW
    assert(RingKernels.area(arr(0, 1, 1, 0), arr(0, 0, 1, 1)) === 1.0)
    val c = RingKernels.centroid(arr(0, 1, 1, 0), arr(0, 0, 1, 1))
    assert(c.getDouble(0) === 0.5 && c.getDouble(1) === 0.5)
    // same square CW: unsigned area identical, centroid identical (sign cancels)
    assert(RingKernels.area(arr(0, 0, 1, 1), arr(0, 1, 1, 0)) === 1.0)
    val cw = RingKernels.centroid(arr(0, 0, 1, 1), arr(0, 1, 1, 0))
    assert(cw.getDouble(0) === 0.5 && cw.getDouble(1) === 0.5)
    // 3-4 right triangle: area 6, centroid = vertex mean
    assert(RingKernels.area(arr(0, 4, 0), arr(0, 0, 3)) === 6.0)
    val t = RingKernels.centroid(arr(0, 4, 0), arr(0, 0, 3))
    assert(t.getDouble(0) === 4.0 / 3 && t.getDouble(1) === 1.0)
    // degenerate rings: area 0
    assert(RingKernels.area(arr(2, 7), arr(3, 9)) === 0.0)
    assert(RingKernels.area(arr(5), arr(5)) === 0.0)
    // perimeter: unit square = 4; 3-4-5 right triangle = 12 (irrational-free);
    // L-shaped hexagon (w=2, h=1): w + h/2 + w/2 + h/2 + w/2 + h = 2w + 2h = 6
    assert(RingKernels.perimeter(arr(0, 1, 1, 0), arr(0, 0, 1, 1)) === 4.0)
    assert(RingKernels.perimeter(arr(0, 4, 0), arr(0, 0, 3)) === 12.0)
    assert(RingKernels.perimeter(
      arr(0, 2, 2, 1, 1, 0), arr(0, 0, 0.5, 0.5, 1, 1)) === 6.0)
    // a diagonal edge: 1x1 right triangle = 2 + sqrt(2), bit-exact
    assert(RingKernels.perimeter(arr(0, 1, 0), arr(0, 0, 1)) === 2.0 + math.sqrt(2.0))
    // degenerate: single vertex / two-point "ring" (out-and-back)
    assert(RingKernels.perimeter(arr(5), arr(5)) === 0.0)
    assert(RingKernels.perimeter(arr(2, 7), arr(3, 9)) ===
      2.0 * math.sqrt(25.0 + 36.0))
    // point-to-boundary distance on the unit square: center → 0.25 (squared
    // to the nearest edge), boundary point → 0, outside corner → diagonal
    val (sx, sy) = (arr(0, 1, 1, 0), arr(0, 0, 1, 1))
    assert(RingKernels.dist2ToRing(sx, sy, 0.5, 0.5) === 0.25)
    assert(RingKernels.dist2ToRing(sx, sy, 1.0, 0.5) === 0.0)
    assert(RingKernels.dist2ToRing(sx, sy, 2.0, 2.0) === 2.0)
    assert(RingKernels.dist2ToRing(sx, sy, 0.5, -3.0) === 9.0)
    // interior asymmetric point: nearest edge is the bottom (y = 0.25)
    assert(RingKernels.dist2ToRing(sx, sy, 0.5, 0.25) === 0.0625)
    // degenerate edge (repeated vertex) falls back to vertex distance
    assert(RingKernels.dist2ToRing(arr(1, 1), arr(2, 2), 4.0, 6.0) === 25.0)
  }

  test("property: PipIndex flat refine agrees with Polygon.covers (seeded)") {
    val ring = Array(Pt(0, 0), Pt(20, 3), Pt(28, 15), Pt(14, 26), Pt(-3, 17), Pt(-6, 5))
    val hole = Array(Pt(5, 5), Pt(12, 6), Pt(11, 13), Pt(6, 12))
    val p = Polygon(ring, Array(hole))
    def xy(r: Array[Pt]) = r.toSeq.map(q => graft.model.XY(q.x, q.y))
    // polygon 1 of the index, behind another, so its rings and edges start
    // mid-array; the closed copy adds a closing vertex that adds no edge
    val index = new graft.operators.PipIndex(Seq(
      graft.operators.PipKernelSpec.fp("other", Seq((100.0, 100.0), (101.0, 100.0), (101.0, 101.0))),
      graft.model.Footprint("p", "Building", 0, xy(ring), Seq(xy(hole)), null, null, Map.empty),
      graft.model.Footprint("closed", "Building", 0, xy(ring :+ ring(0)), Seq(xy(hole :+ hole(0))),
        null, null, Map.empty)), 11)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20000) {
      val x = rnd.nextDouble() * 42 - 10
      val y = rnd.nextDouble() * 35 - 5
      assert(index.covers(1, x, y) === p.covers(x, y), s"flat refine mismatch at ($x,$y)")
      assert(index.covers(2, x, y) === p.covers(x, y), s"closed-ring refine mismatch at ($x,$y)")
    }
  }
}
