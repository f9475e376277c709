package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom.{Polygon, Pt}

class CellGridSpec extends AnyFunSuite {

  test("HexGrid: encode/center round trip — center of a cell encodes to itself") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5000) {
      val res = 5 + rnd.nextInt(9) // res 5..13
      val x = rnd.nextDouble() * 1e6
      val y = rnd.nextDouble() * 1e7
      val c = HexGrid.encode(x, y, res)
      val ctr = HexGrid.center(c)
      assert(HexGrid.encode(ctr.x, ctr.y, res) === c)
      // the point is within circumradius of its cell center
      val d = math.hypot(x - ctr.x, y - ctr.y)
      assert(d <= HexGrid.edge(res) + 1e-6, s"point too far from center: $d @res $res")
    }
  }

  test("HexGrid: pack/unpack round trip") {
    for (res <- 0 to 15; q <- Seq(-12345, 0, 98765); r <- Seq(-1, 0, 54321)) {
      val c = HexGrid.pack(res, q, r)
      assert(HexGrid.resOf(c) === res)
      assert(HexGrid.qOf(c) === q)
      assert(HexGrid.rOf(c) === r)
    }
  }

  test("HexGrid: kRing size and ring distance invariants") {
    val c = HexGrid.encode(457848, 5439088, 9)
    for (k <- 0 to 4) {
      val kr = HexGrid.kRing(c, k)
      assert(kr.length === 3 * k * (k + 1) + 1)
      assert(kr.toSet.size === kr.length, "kRing has duplicates")
      assert(kr.forall(x => HexGrid.dist(c, x) <= k))
      val ring = HexGrid.ring(c, k)
      assert(ring.forall(x => HexGrid.dist(c, x) == k))
      if (k > 0) assert(ring.length === 6 * k)
    }
  }

  test("HexGrid: neighbors are geometrically adjacent (center distance = sqrt3*edge)") {
    val c = HexGrid.encode(1000, 2000, 8)
    val ctr = HexGrid.center(c)
    HexGrid.ring(c, 1).foreach { n =>
      val nc = HexGrid.center(n)
      val d = math.hypot(nc.x - ctr.x, nc.y - ctr.y)
      assert(math.abs(d - math.sqrt(3) * HexGrid.edge(8)) < 1e-6)
    }
  }

  test("HexGrid: parent contains child's center") {
    val rnd = new scala.util.Random(1)
    for (_ <- 1 to 1000) {
      val res = 6 + rnd.nextInt(8)
      val c = HexGrid.encode(rnd.nextDouble() * 1e6, rnd.nextDouble() * 1e6, res)
      val p = HexGrid.parent(c)
      assert(HexGrid.resOf(p) === res - 1)
      val ctr = HexGrid.center(c)
      // child center must be within parent's circumradius
      val pc = HexGrid.center(p)
      assert(math.hypot(ctr.x - pc.x, ctr.y - pc.y) <= HexGrid.edge(res - 1) + 1e-6)
    }
  }

  test("HexGrid: cover is a superset of cells of contained points (prefilter guarantee)") {
    val fzk = Polygon(Array(
      Pt(457854, 5439083), Pt(457842, 5439083), Pt(457842, 5439093),
      Pt(457854, 5439093)))
    val rnd = new scala.util.Random(99)
    for (res <- Seq(9, 10, 11, 12)) {
      val cov = HexGrid.cover(fzk, res).toSet
      assert(cov.nonEmpty)
      for (_ <- 1 to 2000) {
        val x = 457842 + rnd.nextDouble() * 12
        val y = 5439083 + rnd.nextDouble() * 10
        assert(cov.contains(HexGrid.encode(x, y, res)),
          s"covered point ($x,$y) res $res cell not in cover")
      }
    }
  }

  test("ZGrid: encode/decode and exact hierarchy") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5000) {
      val level = 5 + rnd.nextInt(20)
      val x = rnd.nextDouble() * 1e7
      val y = rnd.nextDouble() * 1e7
      val c = ZGrid.encode(x, y, level)
      assert(ZGrid.levelOf(c) === level)
      val (bx, by, s) = ZGrid.bounds(c)
      assert(x >= bx && x < bx + s + 1e-9)
      assert(y >= by && y < by + s + 1e-9)
      // exact nesting: parent spatially contains the child
      if (level > 0) {
        val p = ZGrid.parent(c)
        assert(ZGrid.contains(p, c))
        assert(ZGrid.encode(x, y, level - 1) === p)
        assert(ZGrid.children(p).contains(c))
      }
    }
  }

  test("ZGrid: coverRect covers all contained points; touching included") {
    val cov = ZGrid.coverRect(457842, 5439083, 457854, 5439093, 18).toSet
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 2000) {
      val x = 457842 + rnd.nextDouble() * 12
      val y = 5439083 + rnd.nextDouble() * 10
      assert(cov.contains(ZGrid.encode(x, y, 18)))
    }
    // touching: a rect sharing only the edge x=457854 still shares cells
    val touching = ZGrid.coverRect(457854, 5439083, 457860, 5439093, 18).toSet
    assert(cov.intersect(touching).nonEmpty)
  }

  test("ZGrid: morton ordering groups spatially (same parent -> contiguous ids)") {
    val p = ZGrid.encode(457848, 5439088, 10)
    val kids = ZGrid.children(p).sorted
    assert(kids.sliding(2).forall { case Array(a, b) => ZGrid.mortonOf(b) - ZGrid.mortonOf(a) == 1 })
  }

  test("Tiles: tileOf/bounds round trip and pyramid parent") {
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 3000) {
      val z = 5 + rnd.nextInt(14)
      val x = rnd.nextDouble() * 1e7
      val y = rnd.nextDouble() * 1e7
      val t = Tiles.tileOf(x, y, z)
      val (nx, ny, xx, xy) = Tiles.bounds(t)
      assert(x >= nx && x <= xx && y >= ny && y <= xy, s"tile bounds miss point z=$z")
      val pt = Tiles.parent(t)
      val (pnx, pny, pxx, pxy) = Tiles.bounds(pt)
      assert(x >= pnx - 1e-9 && x <= pxx + 1e-9 && y >= pny - 1e-9 && y <= pxy + 1e-9)
      val up = Tiles.unpack(Tiles.pack(t))
      assert(up === t)
    }
  }

  test("Tiles: coverRect includes the tile of every inner point") {
    val ts = Tiles.coverRect(457842, 5439083, 457854, 5439093, 16).toSet
    val rnd = new scala.util.Random(8)
    for (_ <- 1 to 1000) {
      val x = 457842 + rnd.nextDouble() * 12
      val y = 5439083 + rnd.nextDouble() * 10
      assert(ts.contains(Tiles.tileOf(x, y, 16)))
    }
  }

  test("Tiles: inverted or NaN envelopes cover no tile; coverCount matches coverRect") {
    val inf = Double.PositiveInfinity
    // an empty geometry's envelope: (+Inf, +Inf) .. (-Inf, -Inf)
    assert(Tiles.coverRect(inf, inf, -inf, -inf, 16).isEmpty)
    // inverted inside one tile, and inverted across tiles, on either axis
    assert(Tiles.coverRect(10.5, 10.0, 10.2, 20.0, 16).isEmpty)
    assert(Tiles.coverRect(5000.0, 10.0, 100.0, 20.0, 18).isEmpty)
    assert(Tiles.coverRect(10.0, 5000.0, 20.0, 100.0, 18).isEmpty)
    assert(Tiles.coverRect(Double.NaN, 0.0, 10.0, 10.0, 16).isEmpty)
    assert(Tiles.coverCount(inf, inf, -inf, -inf, 16) === 0L)
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 500) {
      val (x0, y0) = (rnd.nextDouble() * 4000 - 500, rnd.nextDouble() * 4000 - 500)
      val (w, h) = (rnd.nextDouble() * 1500 - 100, rnd.nextDouble() * 1500 - 100)
      val z = 14 + rnd.nextInt(6)
      assert(Tiles.coverCount(x0, y0, x0 + w, y0 + h, z) ===
        Tiles.coverRect(x0, y0, x0 + w, y0 + h, z).length.toLong)
    }
  }

  test("Tiles: a cover too large for one array fails naming the envelope and zoom") {
    // the whole domain at z17: 2^34 tiles, which an Int length would wrap
    assert(Tiles.coverCount(0, 0, Tiles.Span, Tiles.Span, 17) === (1L << 34))
    val e = intercept[IllegalArgumentException](Tiles.coverRect(0, 0, Tiles.Span, Tiles.Span, 17))
    assert(e.getMessage.contains(s"(0.0, 0.0, ${Tiles.Span}, ${Tiles.Span})") &&
      e.getMessage.contains("zoom 17"), e.getMessage)
  }

  test("Hashing: determinism and spread") {
    assert(Hashing.fnv1a("abc") === Hashing.fnv1a("abc"))
    assert(Hashing.fnv1a("abc") !== Hashing.fnv1a("abd"))
    assert(Hashing.mix64(1) !== Hashing.mix64(2))
    val u = (1 to 10000).map(i => Hashing.uniform(42, i))
    assert(u.forall(v => v >= 0.0 && v < 1.0))
    assert(math.abs(u.sum / u.size - 0.5) < 0.02)
  }
}
