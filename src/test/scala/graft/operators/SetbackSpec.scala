package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GeoFunctionsImpl.st_dist2_ring
import graft.TestSpark

/**
 * Setback (nearest-footprint-boundary distance): the map-only index path and
 * the distributed ring search must both return BIT-IDENTICAL rows to the
 * relational oracle twin below — same kernel, same `min(struct(d2, fid))`
 * order, the cell prefilters only skip provably non-minimal rings — and
 * `auto` must route by ring-side size on both sides of its threshold.
 */
class SetbackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import SetbackSpec.broadcastExact

  // 150 scattered axis-aligned square rings (the q91 footprint shape, spread
  // over a ~100 m extent) + 400 points, including three far-field stragglers
  // ~1 km out that outlive small ring budgets
  private lazy val rings = spark.range(150).select(
    concat(lit("b"), col("id")).as("fid"),
    (lit(457840.0) + (col("id") % 12).cast("double") * 8.0).as("minx"),
    (lit(5439081.0) + expr("id div 12").cast("double") * 7.0).as("miny"))
    .select(col("fid"),
      array(col("minx"), col("minx") + 1.3, col("minx") + 1.3, col("minx")).as("xs"),
      array(col("miny"), col("miny"), col("miny") + 1.1, col("miny") + 1.1).as("ys"))

  private lazy val points = spark.range(400).select(
    col("id").as("event_id"),
    when(col("id") >= 397, lit(458900.0) + col("id").cast("double"))
      .otherwise(lit(457838.0) + ((col("id") * 7919) % 10000).cast("double") * 0.01)
      .as("x"),
    when(col("id") >= 397, lit(5440180.0) + col("id").cast("double"))
      .otherwise(lit(5439079.0) + ((col("id") * 104729) % 9000).cast("double") * 0.01)
      .as("y"))

  // edge cases on small exact coordinates: s2/s1 share the edge x = 1 (s2
  // listed first, so only the fid sort can make s1 win ties), z repeats a
  // vertex (a zero-length edge), p is a single vertex, e is empty (the
  // kernel's NaN, which every real distance beats)
  private lazy val edgeRings = Seq(
    ("s2", Seq(0.0, 1.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0)),
    ("s1", Seq(1.0, 2.0, 2.0, 1.0), Seq(0.0, 0.0, 1.0, 1.0)),
    ("z", Seq(5.0, 5.0, 6.0, 6.0, 5.0), Seq(0.0, 0.0, 0.0, 1.0, 1.0)),
    ("p", Seq(3.0), Seq(3.0)),
    ("e", Seq.empty[Double], Seq.empty[Double])).toDF("fid", "xs", "ys")

  private lazy val edgePoints = Seq[(Long, Option[Double], Option[Double])](
    (1L, Some(1.0), Some(0.5)),   // on the shared edge: d2 = 0 for s1 and s2
    (2L, Some(1.0), Some(1.5)),   // equidistant from the shared corner (1, 1)
    (3L, Some(5.0), Some(-0.5)),  // next to z's zero-length edge
    (4L, Some(5.5), Some(0.5)),   // inside z
    (5L, Some(3.0), Some(3.25)),  // next to the single-vertex ring
    (6L, None, Some(0.5)),
    (7L, Some(0.5), None),
    (8L, None, None),
    (9L, Some(1.0e4), Some(-1.0e4)) // far field: past maxR, linear fallback
  ).toDF("event_id", "x", "y")

  private def rows(df: DataFrame) =
    df.as[(Long, Option[Double], Option[Double], String)].collect().toSet

  private def indexOf(r: DataFrame, res: Int = 12, maxR: Int = 16) =
    SetbackIndex.fromRows(r.select("fid", "xs", "ys").collect(), res, maxR)

  private def withRingLimit[T](limit: String)(body: => T): T = {
    spark.conf.set(Setback.BroadcastRingLimitConf, limit)
    try body finally spark.conf.unset(Setback.BroadcastRingLimitConf)
  }

  test("ringSearch == broadcastExact bit-exact (incl. far-field stragglers)") {
    val want = rows(broadcastExact(points, rings))
    assert(want.size === 400)
    val got = rows(Setback.ringSearch(points, rings))
    assert(got === want)
    // partition-layout independence rides the same oracle
    val got13 = rows(Setback.ringSearch(
      points.repartition(13), rings.repartition(7)))
    assert(got13 === want)
  }

  test("exhausted ring budget falls back to the exact score, not a truncated answer") {
    val want = rows(broadcastExact(points, rings))
    val got = rows(Setback.ringSearch(points, rings, maxR = 1))
    assert(got === want, "maxR=1 leaves most points open; fallback must stay exact")
  }

  test("index path == oracle bit-exact: 150 rings, repartitioned points, walk-heavy resolution") {
    val want = rows(broadcastExact(points, rings))
    assert(rows(Setback.indexed(points.repartition(13), indexOf(rings))) === want)
    // res 15 (~0.5 m cells): the walk crosses many cells and rings before the
    // stop rule fires, and points > ~12 m from every ring take the fallback
    assert(rows(Setback.indexed(points, indexOf(rings, res = 15))) === want)
    assert(rows(Setback.indexed(points, indexOf(rings, maxR = 0))) === want,
      "maxR = 0 sends every point to the linear fallback")
  }

  test("index path edge cases: shared-edge ties, zero-length edge, empty ring, null points") {
    val want = broadcastExact(edgePoints, edgeRings)
      .as[(Long, Option[Double], Option[Double], String)].collect()
    assert(want.length === 9)
    val got = rows(Setback.indexed(edgePoints.repartition(3), indexOf(edgeRings)))
    assert(got === want.toSet)
    val byId = want.map(r => r._1 -> r).toMap
    assert(byId(1L) === ((1L, Some(0.0), Some(0.0), "s1")), "shared-edge tie: lower fid")
    assert(byId(2L) === ((2L, Some(0.25), Some(0.5), "s1")), "equidistant corner: lower fid")
    assert(byId(3L)._4 === "z" && byId(4L)._4 === "z" && byId(5L)._4 === "p")
    // a null coordinate makes every per-ring d2 null, so the lowest fid wins
    Seq(6L, 7L, 8L).foreach(id => assert(byId(id) === ((id, None, None, "e"))))
    // the far-field point is beyond the walk's reach, so only the linear
    // fallback can have found it
    assert(byId(9L)._3.get > KnnJoin.ringLowerBound(12, 17))
    // a ring-free index yields no rows, as the oracle's empty cross product
    val none = edgeRings.limit(0)
    assert(Setback.indexed(edgePoints, indexOf(none)).count() === 0)
    assert(broadcastExact(edgePoints, none).count() === 0)
  }

  test("auto routes by ring count; no point-x-ring expansion above the threshold") {
    val want = rows(broadcastExact(points, rings))
    // default threshold: 150 rings take the map-only index path — one
    // codegen projection, no join, no exchange
    val viaIndex = Setback.auto(points, rings)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("setback_nearest"), s"small ring side must use the index:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"), s"index path is map-only:\n$plan")
    assert(rows(viaIndex) === want)
    // both sides of the threshold, exactly at the ring count
    def routed(limit: Int): String = withRingLimit(limit.toString) {
      val df = Setback.auto(points, rings)
      assert(rows(df) === want)
      df.queryExecution.executedPlan.toString
    }
    assert(routed(150).contains("setback_nearest"), "limit == #rings keeps the index path")
    // below the ring count the same call takes the ring search — the
    // returned plan is unions of checkpointed round blocks, with no index
    // kernel and no nested-loop expansion anywhere
    Seq(149, 8).foreach { limit =>
      val p = routed(limit)
      assert(!p.contains("setback_nearest") && !p.contains("NestedLoopJoin"),
        s"limit $limit must take the ring search:\n$p")
    }
  }

  test("auto over local rings routes a memo hit as its first call (limits 150 / 149 / 8)") {
    val want = rows(broadcastExact(points, rings))
    // local rows: the decision is memoized per rings object and limit
    val local = rings.as[(String, Seq[Double], Seq[Double])].collect().toSeq.toDF("fid", "xs", "ys")
    def handles(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.graft.SetbackNearestExpr => e.bc })
    }.flatten
    Seq(150 -> true, 149 -> false, 8 -> false).foreach { case (limit, indexed) =>
      val (first, second) = withRingLimit(limit.toString)(
        (Setback.auto(points, local), Setback.auto(points, local)))
      for (df <- Seq(first, second)) {
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("setback_nearest") === indexed, s"limit $limit:\n$p")
        assert(rows(df) === want)
      }
      if (indexed) assert(handles(first).head eq handles(second).head, "one index for both calls")
    }
  }

  test("the flat per-edge distance equals RingKernels.dist2ToRing bit for bit") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.graft.RingKernels
    val ringsXY = edgeRings.as[(String, Seq[Double], Seq[Double])].collect()
    assert(ringsXY.exists(_._2.isEmpty) && ringsXY.exists(_._2.size == 1), "empty and single-vertex rings")
    val probes = edgePoints.as[(Long, Option[Double], Option[Double])].collect().toSeq
      .flatMap { case (_, x, y) => x.zip(y) } ++ Seq((5.0, 0.0), (0.5, 0.5), (-1.0e300, 1.0e300))
    for ((fid, xs, ys) <- ringsXY; (x, y) <- probes) {
      // the ring mid-array, as the index stores it
      val (fx, fy) = ((7.0 +: xs :+ 8.0).toArray, (7.0 +: ys :+ 8.0).toArray)
      val flat = SetbackIndex.ringDist2(fx, fy, 1, 1 + xs.size, x, y)
      val kernel = RingKernels.dist2ToRing(UnsafeArrayData.fromPrimitiveArray(xs.toArray),
        UnsafeArrayData.fromPrimitiveArray(ys.toArray), x, y)
      assert(java.lang.Double.doubleToRawLongBits(flat) === java.lang.Double.doubleToRawLongBits(kernel),
        s"ring $fid at ($x, $y): $flat vs $kernel")
    }
    assert(SetbackIndex.ringDist2(Array.empty, Array.empty, 0, 0, 1.0, 1.0).isNaN)
  }

  test("broadcastRingLimit: a non-number or negative value fails naming the key; Int.MaxValue keeps the index") {
    Seq("abc", "-1").foreach { bad =>
      val e = withRingLimit(bad)(intercept[IllegalArgumentException](Setback.auto(points, rings)))
      assert(e.getMessage.contains(Setback.BroadcastRingLimitConf), e.getMessage)
    }
    // the probe's `limit + 1` must not overflow at the top of the Int range
    withRingLimit(Int.MaxValue.toString) {
      val df = Setback.auto(points, rings)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("setback_nearest"), s"Int.MaxValue must take the index path:\n$plan")
      assert(rows(df) === rows(broadcastExact(points, rings)))
    }
  }

  test("a ring with null xs/ys fails at index build with a clear message") {
    val bad = edgeRings.union(Seq(("n", None: Option[Seq[Double]], Some(Seq(1.0))))
      .toDF("fid", "xs", "ys"))
    val e = intercept[IllegalArgumentException](Setback.auto(edgePoints, bad))
    assert(e.getMessage.contains("ring 'n' has null xs/ys"), e.getMessage)
    val holey = Seq(("v", Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
      .toDF("fid", "xs", "ys")
    val e2 = intercept[IllegalArgumentException](Setback.auto(edgePoints, holey))
    assert(e2.getMessage.contains("ring 'v' has a null vertex coordinate"), e2.getMessage)
  }
}

object SetbackSpec {

  /** Relational oracle twin of the index path: every point scores every
    * ring with the exact kernel, `min(struct(d2, fid))` keeps the nearest. */
  def broadcastExact(points: DataFrame, rings: DataFrame,
                     idCol: String = "event_id"): DataFrame =
    points.select(col(idCol),
        col("x").cast("double").as("x"), col("y").cast("double").as("y"))
      .crossJoin(broadcast(rings.select(col("fid"), col("xs"), col("ys"))))
      .select(col(idCol), col("fid"),
        st_dist2_ring(col("xs"), col("ys"), col("x"), col("y")).as("d2"))
      .groupBy(idCol)
      .agg(min(struct(col("d2"), col("fid"))).as("m"))
      .select(col(idCol), col("m.d2").as("d2"), sqrt(col("m.d2")).as("dist"),
        col("m.fid").as("nearest"))
}
