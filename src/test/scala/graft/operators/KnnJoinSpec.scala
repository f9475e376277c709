package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // seeded random probes + targets in a 200x200 m window (UTM-like offsets)
  val rnd = new scala.util.Random(42)
  val targets: Seq[(String, Double, Double)] = (0 until 300).map { i =>
    (f"t$i%03d", 457800.0 + rnd.nextDouble() * 200, 5439000.0 + rnd.nextDouble() * 200)
  }
  val probes: Seq[(String, Double, Double)] = (0 until 500).map { i =>
    (f"p$i%03d", 457790.0 + rnd.nextDouble() * 220, 5438990.0 + rnd.nextDouble() * 220)
  }
  // probes far outside the target window: the k-th neighbour lies beyond
  // any small ring budget, so a capped ring walk alone would truncate
  val far: Seq[(String, Double, Double)] =
    (0 until 20).map { i => (f"f$i%03d", 450000.0 + i * 3.0, 5432000.0) }

  test("broadcastGrid kNN == brute force at several resolutions (stop-bound proof)") {
    val want = KnnJoin.bruteForce(probes, targets, 3).toSet
    for (res <- Seq(10, 11, 12, 13)) {
      val got = KnnJoin.broadcastGrid(
        probes.toDF("probe_id", "x", "y"), targets, k = 3, res = res, linearLimit = 0)
        .as[(String, String, Double, Int)].collect().toSet
      assert(got === want, s"res=$res")
    }
  }

  test("broadcastGrid kNN with clustered targets (dense-cell skew)") {
    // all targets inside one 10x10 m cell neighbourhood
    val dense = (0 until 200).map { i =>
      (f"d$i%03d", 457848.0 + (i % 20) * 0.3, 5439088.0 + (i / 20) * 0.3)
    }
    val want = KnnJoin.bruteForce(probes, dense, 5).toSet
    val got = KnnJoin.broadcastGrid(probes.toDF("probe_id", "x", "y"), dense, 5, res = 12,
      maxR = 256, linearLimit = 0).as[(String, String, Double, Int)].collect().toSet
    assert(got === want)
  }

  test("linear fast path (small target set) ≡ grid ring path ≡ brute force") {
    val want = KnnJoin.bruteForce(probes, targets, 3).toSet
    // default linearLimit=512 routes 300 targets to the linear scan
    val linear = KnnJoin.broadcastGrid(probes.toDF("probe_id", "x", "y"), targets, k = 3)
      .as[(String, String, Double, Int)].collect().toSet
    val grid = KnnJoin.broadcastGrid(probes.toDF("probe_id", "x", "y"), targets, k = 3,
      linearLimit = 0).as[(String, String, Double, Int)].collect().toSet
    assert(linear === want)
    assert(linear === grid)
  }

  test("distributed ringJoin kNN == brute force") {
    val want = KnnJoin.bruteForce(probes.take(60), targets, 3).toSet
    val got = KnnJoin.ringJoin(
      probes.take(60).toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24)
      .select("probe_id", "target_id", "d2", "rnk")
      .as[(String, String, Double, Int)].collect().toSet
    assert(got === want)
    // the default above takes the small-probe broadcast regime; the other
    // side of each threshold must be row-identical — the split is a
    // join-strategy choice only: the big-probe regime (tcell-partitioned
    // target cache + shuffle joins), and the small-probe regime with a 1-row
    // broadcast limit, whose per-round row guard sends the rounds to the
    // shuffle join
    for ((key, value) <- Seq("spark.graft.knn.smallProbeLimit" -> "0",
                             "spark.graft.knn.broadcastRowsLimit" -> "1")) {
      spark.conf.set(key, value)
      try {
        val gotShuffle = KnnJoin.ringJoin(
          probes.take(60).toDF("probe_id", "x", "y"),
          targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24)
          .select("probe_id", "target_id", "d2", "rnk")
          .as[(String, String, Double, Int)].collect().toSet
        assert(gotShuffle === want, s"($key = $value)")
      } finally spark.conf.unset(key)
    }
  }

  test("ring-budget exhaustion falls back to exact results (no silent truncation)") {
    val want = KnnJoin.bruteForce(far, targets, 3).toSet
    // codegen-index path, hex-ring strategy forced, tiny cap
    val gotIdx = KnnJoin.broadcastGrid(far.toDF("probe_id", "x", "y"), targets, k = 3,
      res = 12, maxR = 2, linearLimit = 0)
      .as[(String, String, Double, Int)].collect().toSet
    assert(gotIdx === want, "KnnIndex must fall back to the linear scan at the maxR cap")
    // distributed ringJoin path, tiny cap
    val gotRing = KnnJoin.ringJoin(far.toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 12, maxR = 2)
      .select("probe_id", "target_id", "d2", "rnk")
      .as[(String, String, Double, Int)].collect().toSet
    assert(gotRing === want, "ringJoin must finish pending probes exactly at the maxR cap")
  }

  test("duplicate target rows survive the maxR fallback (ringJoin, broadcastGrid == brute force)") {
    // the far probes' nearest target, listed twice: both copies rank
    val nearest = KnnJoin.bruteForce(far.take(1), targets, 1).head._2
    val dup = targets ++ targets.filter(_._1 == nearest)
    val want = KnnJoin.bruteForce(far, dup, 3).sorted
    assert(want.count(r => r._1 == far.head._1 && r._2 == nearest) === 2)
    val gotRing = KnnJoin.ringJoin(far.toDF("probe_id", "x", "y"),
      dup.toDF("target_id", "cx", "cy"), k = 3, res = 12, maxR = 2)
      .select("probe_id", "target_id", "d2", "rnk")
      .as[(String, String, Double, Int)].collect().toSeq.sorted
    assert(gotRing === want, "ringJoin fallback must keep duplicate target rows")
    val gotIdx = KnnJoin.broadcastGrid(far.toDF("probe_id", "x", "y"), dup, k = 3,
      res = 12, maxR = 2, linearLimit = 0)
      .as[(String, String, Double, Int)].collect().toSeq.sorted
    assert(gotIdx === want)
  }

  test("ringJoin with reliable checkpoints (executor-loss-safe) == brute force") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ring_ck").toString
    val want = KnnJoin.bruteForce(probes.take(40), targets, 3).toSet
    val got = KnnJoin.ringJoin(
      probes.take(40).toDF("probe_id", "x", "y"),
      targets.toDF("target_id", "cx", "cy"), k = 3, res = 11, maxR = 24,
      checkpointDir = Some(ckDir))
      .select("probe_id", "target_id", "d2", "rnk")
      .as[(String, String, Double, Int)].collect().toSet
    assert(got === want)
  }

  test("knn_topk aggregate == row_number window top-k (random data incl. d2 ties)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val r3 = new scala.util.Random(99)
    // ties on purpose: d2 drawn from a small integer set
    val rows = (0 until 5000).map { i =>
      (s"p${r3.nextInt(40)}", s"t$i", r3.nextInt(20).toDouble)
    }
    val df = rows.toDF("probe_id", "target_id", "d2").repartition(7)
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("target_id"))
    for (k <- Seq(1, 3, 10)) {
      val want = df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
        .as[(String, String, Double, Int)].collect().toSet
      val got = df.groupBy("probe_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
          .knn_topk(col("d2"), col("target_id"), k).as("nn"))
        .select(col("probe_id"), explode(col("nn")).as("m"))
        .select(col("probe_id"), col("m.target_id"), col("m.d2"), col("m.rnk"))
        .as[(String, String, Double, Int)].collect().toSet
      assert(got === want, s"k=$k")
    }
    // plan gate: partial (map-side) + final aggregate — the whole point vs a
    // window, whose sort must see every candidate row
    val plan = df.groupBy("probe_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
        .knn_topk(col("d2"), col("target_id"), 3).as("nn"))
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllMatchIn(plan).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$plan")
    // SQL surface
    graft.functions.GeoFunctions.register(spark)
    df.createOrReplaceTempView("topk_in")
    val sqlGot = spark.sql(
      """SELECT probe_id, m.target_id, m.d2, m.rnk
         FROM (SELECT probe_id, explode(knn_topk(d2, target_id, 3)) AS m
               FROM topk_in GROUP BY probe_id)""")
      .as[(String, String, Double, Int)].collect().toSet
    val sqlWant = df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
      .as[(String, String, Double, Int)].collect().toSet
    assert(sqlGot === sqlWant)
  }

  test("idw_fold: hand-computed estimate, order sensitivity contract, empty input") {
    graft.functions.GeoFunctions.register(spark)
    val r = spark.sql(
      """SELECT idw_fold(array(1.0d, 4.0d), array(10.0d, 20.0d)) AS a,
                idw_fold(CAST(array() AS ARRAY<DOUBLE>),
                         CAST(array() AS ARRAY<DOUBLE>)) AS b""").head()
    // weights 1, 0.25 → (1*10 + 0.25*20) / 1.25 = 12
    assert(r.getDouble(0) === 12.0)
    assert(r.getDouble(1).isNaN, "empty neighbor set → NaN, never a crash")
  }

  test("ringLowerBound is a true lower bound (random sampling)") {
    val res = 11
    val r2 = new scala.util.Random(7)
    for (_ <- 1 to 20000) {
      val x1 = r2.nextDouble() * 10000; val y1 = r2.nextDouble() * 10000
      val x2 = r2.nextDouble() * 10000; val y2 = r2.nextDouble() * 10000
      val h = graft.core.HexGrid.dist(
        graft.core.HexGrid.encode(x1, y1, res), graft.core.HexGrid.encode(x2, y2, res))
      val d = math.hypot(x1 - x2, y1 - y2)
      assert(d >= KnnJoin.ringLowerBound(res, h) - 1e-9,
        s"d=$d h=$h bound=${KnnJoin.ringLowerBound(res, h)}")
    }
  }
}
