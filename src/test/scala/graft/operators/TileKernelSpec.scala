package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}

import graft.TestSpark
import graft.TestSpark.jobsRunBy
import graft.core.Tiles
import graft.model.{Env6, Footprint, XY}

/**
 * The map-only tile kernel (`tile_matches` over a broadcast [[TileIndex]])
 * against the brute-force oracle (`bruteForceFeatureTiles` per footprint
 * row + `Tiles.tileOf`), as a multiset with column order, on both sides of
 * [[TileAssign.auto]]'s broadcast limit. Synthetic footprints only: z16
 * tiles are 512 m and z18 tiles 128 m, so multiples of 128 land exactly on
 * tile edges and corners.
 */
class TileKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val zooms = Seq(16, 18)
  private val inf = Double.PositiveInfinity

  private def fp(id: String, pid: Int, minx: Double, miny: Double,
                 maxx: Double, maxy: Double): Footprint =
    Footprint(id, "Building", pid,
      Seq(XY(minx, miny), XY(maxx, miny), XY(maxx, maxy), XY(minx, maxy)), Nil,
      Env6(minx, miny, 0, maxx, maxy, 10), XY((minx + maxx) / 2, (miny + maxy) / 2), Map.empty)

  private lazy val fps: Seq[Footprint] = {
    val dup = fp("dup", 3, 700, 700, 760, 760)
    Seq(
      fp("edge", 0, 512, 1024, 1024, 1536), // every edge on a z16 (and z18) tile boundary
      fp("span", 1, 100, 100, 3000, 2500), // 480 tiles at z18
      dup, dup, // duplicate footprint rows
      fp("edge", 4, 1030, 1030, 1100, 1100), // duplicate feature_id, other envelope
      fp("outside", 5, -50, -50, 10, 10), // partly outside the domain: clamped
      fp("far", 6, Tiles.Span - 10, Tiles.Span - 10, Tiles.Span + 100, Tiles.Span + 100),
      Footprint("empty", "Building", 7, Nil, Nil, Env6(inf, inf, inf, -inf, -inf, -inf),
        XY(0, 0), Map.empty)) // an empty ring's envelope: covers no tile
  }

  private type P = (String, Option[Double], Option[Double], Int)

  private lazy val pts: Seq[P] = {
    val grid = for (i <- 0 until 30; j <- 0 until 24) yield
      (s"g$i-$j", Some(i * 128.0 - 256), Some(j * 128.0 - 128), i * 100 + j)
    grid ++ Seq[P](
      ("corner", Some(1024.0), Some(1024.0), 1), ("vedge", Some(512.0), Some(700.0), 2),
      ("hedge", Some(640.0), Some(1536.0), 3), ("hedge", Some(640.0), Some(1536.0), 3),
      ("nullx", None, Some(700.0), 4), ("nully", Some(700.0), None, 5),
      ("below", Some(-100.0), Some(-100.0), 6), ("above", Some(Tiles.Span + 500), Some(Tiles.Span + 500), 7),
      ("east", Some(Tiles.Span + 5), Some(50.0), 8))
  }

  private def pointsDf(ps: Seq[P]): DataFrame = ps.toDF("image_id", "x", "y", "payload")

  private val columns = Seq("zoom", "tile_id", "image_id", "x", "y", "payload", "feature_id", "partition_id")

  private type R = (Int, Long, String, Option[Double], Option[Double], Int, String, Int)

  /** Multiset of oracle rows: each point row at each listed zoom meets each
    * feature-tile row (per footprint row and listed zoom) of its tile. */
  private def oracle(ps: Seq[P], fs: Seq[Footprint], zs: Seq[Int]): Map[R, Int] = {
    val byTile = (for {
      f <- fs
      z <- zs
      (_, _, t) <- TileAssign.bruteForceFeatureTiles(Seq(f), Seq(z))
    } yield (z, t) -> f).groupBy(_._1)
    bag(for {
      (id, xo, yo, pay) <- ps
      (x, y) <- xo.zip(yo).toSeq
      z <- zs
      t = Tiles.pack(Tiles.tileOf(x, y, z))
      (_, f) <- byTile.getOrElse((z, t), Nil)
    } yield (z, t, id, xo, yo, pay, f.feature_id, f.partition_id))
  }

  private def bag[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private def rows(df: DataFrame): Map[R, Int] = bag(df.collect().toSeq.map { r: Row =>
    def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    (r.getInt(0), r.getLong(1), r.getString(2), d(3), d(4), r.getInt(5), r.getString(6), r.getInt(7))
  })

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Feature-tile pairs of `fs`: the exploded feature side's row count. */
  private def pairs(fs: Seq[Footprint], zs: Seq[Int]): Long =
    fs.map(f => zs.map(z => TileAssign.bruteForceFeatureTiles(Seq(f), Seq(z)).size.toLong).sum).sum

  test("kernel at the limit and shuffle at limit - 1 both equal the brute-force multiset") {
    val want = oracle(pts, fps, zooms)
    assert(want.values.sum > pts.size, "the probes must hit several features each")
    assert(want.keys.exists(r => r._7 == "edge" && r._8 == 4) && want.keys.exists(_._7 == "far") &&
      want.keys.exists(_._7 == "outside") && want.exists { case (r, n) => r._7 == "dup" && n >= 2 })
    // touching-inclusive: the tile-aligned envelope also covers the tiles beyond its edges
    assert(pairs(fps.take(1), zooms) === 2 * 2 + 5 * 5)
    val limit = pairs(fps, zooms)
    val shuffle = TileAssign.auto(pointsDf(pts), fps.toDS(), zooms, broadcastLimit = limit - 1)
    val kernel = TileAssign.auto(pointsDf(pts), fps.toDS(), zooms, broadcastLimit = limit)
    // more footprint rows than fit at one tile per zoom: the bounded collect gives up
    val uncollected = TileAssign.auto(pointsDf(pts), fps.toDS(), zooms, broadcastLimit = fps.size - 1)
    assert(plan(kernel).contains("tile_matches") && !plan(kernel).contains("Join"), plan(kernel))
    for (df <- Seq(shuffle, uncollected))
      assert(plan(df).contains("SortMergeJoin") && !plan(df).contains("tile_matches"), plan(df))
    for (df <- Seq(kernel, shuffle, uncollected)) {
      assert(df.columns.toSeq === columns)
      assert(rows(df) === want)
    }
    assert(kernel.schema.map(f => (f.name, f.dataType)) === shuffle.schema.map(f => (f.name, f.dataType)))
  }

  test("at the limit and at limit - 1 a memo hit routes as the first call") {
    val want = oracle(pts, fps, zooms)
    val ds = fps.toDS() // local rows: the decision is memoized per Dataset and limit
    val limit = pairs(fps, zooms)
    def handles(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case p => p.expressions.flatMap(_.collect { case e: org.apache.spark.sql.graft.TileMatchesExpr => e.bc })
    }.flatten
    for ((l, kernel) <- Seq(limit -> true, (limit - 1) -> false)) {
      val first = TileAssign.auto(pointsDf(pts), ds, zooms, broadcastLimit = l)
      val (second, jobs) = jobsRunBy(TileAssign.auto(pointsDf(pts), ds, zooms, broadcastLimit = l))
      assert(jobs === 0, "a memo hit plans without a Spark job")
      for (df <- Seq(first, second)) {
        assert(plan(df).contains("tile_matches") === kernel, plan(df))
        assert(rows(df) === want)
      }
      if (kernel) assert(handles(first).head eq handles(second).head, "one index for both calls")
    }
  }

  test("zooms listed twice: each pair repeats as on the exploded join") {
    val zs = Seq(18, 16, 18)
    val ps = pts.take(200)
    val want = oracle(ps, fps, zs)
    val limit = pairs(fps, zs)
    for (l <- Seq(limit, limit - 1))
      assert(rows(TileAssign.auto(pointsDf(ps), fps.toDS(), zs, broadcastLimit = l)) === want)
  }

  test("empty zooms and an empty footprint set give no rows in the same columns") {
    val (none, jobs) = jobsRunBy(TileAssign.auto(pointsDf(pts), fps.toDS(), Nil))
    assert(jobs === 0)
    val noFeatures = TileAssign.auto(pointsDf(pts), Seq.empty[Footprint].toDS(), zooms)
    for (df <- Seq(none, noFeatures)) {
      assert(df.columns.toSeq === columns)
      assert(df.collect().isEmpty)
      assert(plan(df).contains("tile_matches") && !plan(df).contains("Join"), plan(df))
    }
  }

  test("default limit: one map-only projection, planned without a Spark job") {
    val (q, jobs) = jobsRunBy(TileAssign.auto(pointsDf(pts), fps.toDS(), zooms))
    assert(jobs === 0, "a local footprint Dataset must be sized and indexed on the driver")
    assert(rows(q) === oracle(pts, fps, zooms))
    val p = plan(q)
    assert(p.contains("tile_matches"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), s"no join, no exchange:\n$p")
  }
}
