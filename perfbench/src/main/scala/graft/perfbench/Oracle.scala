package graft.perfbench

import graft.core.Geom
import graft.core.Geom.Pt
import graft.model.Footprint
import graft.operators.{KnnJoin, PipJoin, TileAssign}

/**
 * Driver-side reference answers. Row samples are checked against the
 * engine's brute-force oracles (`PipJoin.bruteForce`, `KnnJoin.bruteForce`,
 * `TileAssign.bruteForceFeatureTiles`, `Tiles.tileOf`); whole-table counts
 * use a uniform-grid prefilter over the same exact `Geom.Polygon.covers`.
 */
final class Oracle(val fps: Seq[Footprint]) {

  private val polys: Array[(String, Geom.Polygon)] = fps.map { f =>
    (f.feature_id, Geom.Polygon(f.ring.map(p => Pt(p.x, p.y)).toArray,
      f.holes.map(_.map(p => Pt(p.x, p.y)).toArray).toArray))
  }.toArray

  private val cell = 50.0
  private val grid: Map[(Long, Long), Array[Int]] = fps.indices.flatMap { i =>
    val e = fps(i).env
    for {
      gx <- math.floor(e.minx / cell).toLong to math.floor(e.maxx / cell).toLong
      gy <- math.floor(e.miny / cell).toLong to math.floor(e.maxy / cell).toLong
    } yield ((gx, gy), i)
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }

  /** Feature ids whose polygon covers (x, y), boundary included. */
  def pip(x: Double, y: Double): Seq[String] =
    grid.get((math.floor(x / cell).toLong, math.floor(y / cell).toLong)) match {
      case Some(c) => c.toSeq.filter(i => polys(i)._2.covers(x, y)).map(polys(_)._1).sorted
      case None => Nil
    }

  val centroids: Seq[(String, Double, Double)] =
    fps.map(f => (f.feature_id, f.centroid.x, f.centroid.y))

  /** Sample check of (id, feature_id) pairs against `PipJoin.bruteForce`. */
  def checkPip(sample: Seq[(String, Double, Double)], got: Set[(String, String)]): Unit = {
    val want = PipJoin.bruteForce(sample, fps)
    val ids = sample.map(_._1).toSet
    val mine = got.filter(p => ids.contains(p._1))
    require(mine == want, s"pip: ${(want -- mine).size} missing, ${(mine -- want).size} extra " +
      s"of ${want.size} expected pairs on a ${sample.size}-point sample")
  }

  /** Sample check of ranked neighbours against `KnnJoin.bruteForce`; equal
    * distances may swap ids only where they tie. */
  def checkKnn(sample: Seq[(String, Double, Double)], k: Int,
               got: Map[String, Seq[(String, Double)]]): Unit = {
    val want = KnnJoin.bruteForce(sample, centroids, k).groupBy(_._1)
    sample.foreach { case (id, _, _) =>
      val w = want.getOrElse(id, Nil).sortBy(_._4).map(r => (r._2, r._3))
      val g = got.getOrElse(id, Nil)
      require(g.size == w.size, s"knn: $id has ${g.size} neighbours, expected ${w.size}")
      g.zip(w).foreach { case ((gid, gd), (wid, wd)) =>
        require(math.abs(gd - wd) <= 1e-9 * (1 + wd), s"knn: $id d2 $gd != $wd")
        require(gid == wid || w.count(_._2 == wd) > 1, s"knn: $id got $gid, expected $wid")
      }
    }
  }

  /** (zoom, tile) → covering feature ids, from the engine's tile oracle. */
  def tileIndex(zooms: Seq[Int]): Map[(Int, Long), Set[String]] =
    TileAssign.bruteForceFeatureTiles(fps, zooms).groupBy(t => (t._2, t._3))
      .map { case (k, v) => k -> v.map(_._1) }

  def checkTiles(sample: Seq[(String, Double, Double)], zooms: Seq[Int],
                 index: Map[(Int, Long), Set[String]], got: Set[(String, Int, Long, String)]): Unit = {
    val want = for {
      (id, x, y) <- sample.toSet[(String, Double, Double)]
      z <- zooms
      t = graft.core.Tiles.pack(graft.core.Tiles.tileOf(x, y, z))
      f <- index.getOrElse((z, t), Set.empty[String])
    } yield (id, z, t, f)
    val ids = sample.map(_._1).toSet
    val mine = got.filter(r => ids.contains(r._1))
    require(mine == want, s"tile: ${(want -- mine).size} missing, ${(mine -- want).size} extra " +
      s"of ${want.size} expected rows")
  }

  private val ringXs = fps.map(_.ring.map(_.x).toArray).toArray
  private val ringYs = fps.map(_.ring.map(_.y).toArray).toArray

  /** Squared distance from (x, y) to the nearest outer-ring edge of footprint i. */
  def ringDist2(i: Int, x: Double, y: Double): Double = {
    val xs = ringXs(i); val ys = ringYs(i)
    var best = Double.MaxValue
    var a = 0
    while (a < xs.length) {
      val b = (a + 1) % xs.length
      val dx = xs(b) - xs(a); val dy = ys(b) - ys(a)
      val l2 = dx * dx + dy * dy
      val t = if (l2 == 0) 0.0 else math.max(0.0, math.min(1.0, ((x - xs(a)) * dx + (y - ys(a)) * dy) / l2))
      val ex = x - (xs(a) + t * dx); val ey = y - (ys(a) + t * dy)
      best = math.min(best, ex * ex + ey * ey)
      a += 1
    }
    best
  }

  /** Sample check of (nearest fid, d2) per point; ties may pick either id. */
  def checkSetback(sample: Seq[(String, Double, Double)], got: Map[String, (String, Double)]): Unit =
    sample.foreach { case (id, x, y) =>
      val d = fps.indices.map(i => (ringDist2(i, x, y), fps(i).feature_id))
      val best = d.minBy(_._1)._1
      val (gf, gd) = got.getOrElse(id, sys.error(s"setback: no row for $id"))
      require(math.abs(gd - best) <= 1e-6 * (1 + best), s"setback: $id d2 $gd != $best")
      val ok = d.filter(t => math.abs(t._1 - best) <= 1e-6 * (1 + best)).map(_._2).toSet
      require(ok.contains(gf), s"setback: $id nearest $gf not among ${ok.take(3)}")
    }
}
