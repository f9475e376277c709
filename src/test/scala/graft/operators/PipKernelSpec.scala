package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.TestSpark
import graft.core.Geom.{Polygon, Pt}
import graft.core.HexGrid
import graft.model._

/**
 * Hermetic PIP kernel spec: synthetic footprints with every ring shape the
 * flat [[PipIndex]] has to reassemble (concave, hole, shared edge, open and
 * closed rings, an empty ring, a duplicated feature id), probed on vertices,
 * edges, the hole boundary, the shared edge and in the far field. The join
 * must equal the brute-force oracle, and `matches` must list
 * the covering polygons in ordinal order with duplicate ids kept.
 */
class PipKernelSpec extends AnyFunSuite {
  import PipKernelSpec._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(String, String)] =
    df.select("image_id", "feature_id").as[(String, String)].collect().toSeq.sorted

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("auto (pip_matches) and Pipeline.enrich == brute force multiset") {
    val pts = probes.toDF("image_id", "x", "y")
    val want = PipJoin.bruteForce(probes, fps)
    // every probe kind meets the kernel: vertices, edges, hole and shared edge
    Seq("v_", "e_", "s_").foreach(p => assert(want.exists(_._1.startsWith(p)), p))
    assert(want.count(_._2 == "dup") > 0 && !want.exists(_._1.startsWith("f_")))
    val multiset = ordinalOracle.sorted
    assert(multiset.toSet === want)
    assert(multiset.size > want.size, "the duplicated feature id must yield duplicate rows")

    val join = PipJoin.auto(pts, fps)
    assert(plan(join).contains("pip_matches"), plan(join))
    assert(rows(join) === multiset)
    val enriched = graft.app.Pipeline.enrich(pts, fps)
    assert(plan(enriched).contains("pip_matches"), plan(enriched))
    assert(rows(enriched) === multiset)
  }

  test("an out-of-range res fails on the driver, before any action") {
    val pts = probes.toDF("image_id", "x", "y")
    Seq(HexGrid.MaxRes + 1, -1).foreach { res =>
      val e = intercept[IllegalArgumentException](PipJoin.auto(pts, fps, res = res))
      assert(e.getMessage.contains(s"got $res"), e.getMessage)
    }
    PipJoin.auto(pts, fps, res = HexGrid.MaxRes) // the top resolution still builds
  }

  test("PipIndex.matches lists covering polygons in ordinal order, duplicates kept") {
    val index = new PipIndex(fps, PipJoin.DefaultRes)
    probes.foreach { case (id, x, y) =>
      val got = index.matches(x, y).toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      assert(got === coveringIds(x, y), s"$id at ($x, $y)")
    }
    // the point at the star's centre lies in the star and both `dup` squares
    assert(coveringIds(0.0, 0.0) === Seq("star", "dup", "dup"))
  }

  test("a 1,000,016-vertex city stays on pip_matches with no join, == brute force") {
    val city = PipKernelSpec.city(62501)
    val v = city.iterator.map(f => f.ring.size + f.holes.map(_.size).sum).sum
    assert(v === 1000016) // past the 1M vertices where the old router left the kernel
    // star centres, tips and notches, gaps between stars, the lone last star
    val probes = Seq(0, 1, 99, 100, 31250, 31299, 62499, 62500).flatMap { i =>
      val (cx, cy) = ((i % 100) * 40.0, (i / 100) * 40.0)
      Seq(("c", 0.0, 0.0), ("tip", 15.0, 0.0), ("notch", 9.0 * math.cos(math.Pi / 8),
        9.0 * math.sin(math.Pi / 8)), ("in", 0.0, 14.0), ("gap", 20.0, 20.0))
        .map { case (k, dx, dy) => (s"${k}_$i", cx + dx, cy + dy) }
    }
    val df = PipJoin.auto(probes.toDF("image_id", "x", "y"), city)
    val got = rows(df)
    val executed = plan(df)
    assert(executed.contains("pip_matches") && !executed.contains("Join"), executed)
    val want = PipJoin.bruteForce(probes, city)
    assert(want.size > probes.size / 2 && want.size < probes.size)
    assert(got === want.toSeq.sorted)
  }
}

object PipKernelSpec {

  def fp(id: String, ring: Seq[(Double, Double)],
         holes: Seq[Seq[(Double, Double)]] = Nil): Footprint = {
    val all = ring ++ holes.flatten
    val (xs, ys) = (all.map(_._1), all.map(_._2))
    def xy(r: Seq[(Double, Double)]) = r.map { case (x, y) => XY(x, y) }
    Footprint(id, "Building", 0, xy(ring), holes.map(xy),
      if (all.isEmpty) Env6(0, 0, 0, 0, 0, 0) else Env6(xs.min, ys.min, 0, xs.max, ys.max, 0),
      if (all.isEmpty) XY(0, 0) else XY(xs.sum / xs.size, ys.sum / ys.size), Map.empty)
  }

  /** Concave ten-point star around (cx, cy), open ring. */
  def star(cx: Double, cy: Double, outer: Double, inner: Double): Seq[(Double, Double)] =
    (0 until 10).map { i =>
      val r = if (i % 2 == 0) outer else inner
      val a = math.Pi * i / 5
      (cx + r * math.cos(a), cy + r * math.sin(a))
    }

  val fps: Seq[Footprint] = Seq(
    fp("star", star(0, 0, 10, 4)),
    // closed exterior with an open courtyard hole
    fp("court", Seq((20.0, 0.0), (40.0, 0.0), (40.0, 20.0), (20.0, 20.0), (20.0, 0.0)),
      Seq(Seq((25.0, 5.0), (35.0, 5.0), (35.0, 15.0), (25.0, 15.0)))),
    // twins sharing the edge x = 60: A closed, B open
    fp("twinA", Seq((50.0, 0.0), (60.0, 0.0), (60.0, 10.0), (50.0, 10.0), (50.0, 0.0))),
    fp("twinB", Seq((60.0, 0.0), (70.0, 0.0), (70.0, 10.0), (60.0, 10.0))),
    fp("empty", Nil),
    // one feature id on two overlapping squares in the star's core
    fp("dup", Seq((-2.0, -2.0), (2.0, -2.0), (2.0, 2.0), (-2.0, 2.0))),
    fp("dup", Seq((-1.0, -1.0), (3.0, -1.0), (3.0, 3.0), (-1.0, 3.0), (-1.0, -1.0))))

  val vertices: Int = fps.iterator.map(f => f.ring.size + f.holes.map(_.size).sum).sum

  /** Vertices (`v_`), edge midpoints and quarter points (`e_`), the shared
    * edge (`s_`), a lattice over the whole extent (`g_`) and the far field
    * (`f_`). */
  val probes: Seq[(String, Double, Double)] = {
    val rings = fps.flatMap(f => f.ring +: f.holes).map(_.map(p => (p.x, p.y)))
    val vs = rings.flatten.distinct.zipWithIndex.map { case ((x, y), i) => (s"v_$i", x, y) }
    val es = rings.filter(_.nonEmpty).flatMap { r =>
      r.indices.flatMap { i =>
        val (ax, ay) = r(i); val (bx, by) = r((i + 1) % r.size)
        Seq(0.25, 0.5, 0.75).map(t => (ax + t * (bx - ax), ay + t * (by - ay)))
      }
    }.zipWithIndex.map { case ((x, y), i) => (s"e_$i", x, y) }
    val shared = Seq(0.0, 1.0, 2.5, 5.0, 9.999, 10.0).map(y => (s"s_$y", 60.0, y))
    val grid = for (i <- 0 to 72; j <- 0 to 32)
      yield (s"g_${i}_$j", -15.0 + i * 1.25, -15.0 + j * 1.25)
    val far = Seq(("f_0", 1.0e6, -1.0e6), ("f_1", -500.0, 300.0), ("f_2", 1.0e-9, 1.0e9))
    vs ++ es ++ shared ++ grid ++ far
  }

  private lazy val polygons: Seq[(String, Polygon)] = fps.map { f =>
    (f.feature_id, Polygon(f.ring.map(p => Pt(p.x, p.y)).toArray,
      f.holes.map(_.map(p => Pt(p.x, p.y)).toArray).toArray))
  }

  /** Ids of the polygons covering (x, y), in ordinal order. */
  def coveringIds(x: Double, y: Double): Seq[String] =
    polygons.collect { case (id, poly) if poly.covers(x, y) => id }

  /** Brute force as a multiset: one row per covering polygon. */
  lazy val ordinalOracle: Seq[(String, String)] =
    probes.flatMap { case (id, x, y) => coveringIds(x, y).map(id -> _) }

  /** `n` sixteen-vertex stars on a 40 m lattice. */
  def city(n: Int): Seq[Footprint] = (0 until n).map { i =>
    val (cx, cy) = ((i % 100) * 40.0, (i / 100) * 40.0)
    fp(f"b$i%05d", (0 until 16).map { j =>
      val r = if (j % 2 == 0) 15.0 else 9.0
      val a = math.Pi * j / 8
      (cx + r * math.cos(a), cy + r * math.sin(a))
    })
  }
}
