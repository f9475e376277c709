package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GeoFunctionsImpl
import graft.TestSpark

/**
 * topk_by — the generalized bounded top-k aggregate — vs its row_number()
 * window oracle twin: identical kept rows (including (score, key) tie-breaks
 * and payload riders) under forced multi-partition merges, so the map-side
 * buffers + merge path is what's actually exercised, not a single-partition
 * degenerate case.
 */
class TopKBySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic candidates with deliberate score ties inside groups:
  // 40 groups × 250 candidates, score has only 17 distinct values per group
  private lazy val cands = spark.range(10000).select(
    (col("id") % 40).as("grp"),
    concat(lit("k"), format_string("%05d", col("id"))).as("key"),
    ((col("id") * 7919) % 17).cast("double").as("score"),
    struct((col("id") * 3).as("pay_a"), concat(lit("p"), col("id")).as("pay_b")).as("pay"))
    .repartition(7) // force partial buffers + merges

  private def windowTwin(k: Int) = {
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("key").asc)
    cands.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("grp"), col("key"), col("score"), col("pay.pay_a"), col("pay.pay_b"), col("rnk"))
      .as[(Long, String, Double, Long, String, Int)].collect().toSet
  }

  test("topk_by with payload == row_number window (ties, merges, payload riders)") {
    for (k <- Seq(1, 3, 8)) {
      val got = cands.groupBy("grp")
        .agg(GeoFunctionsImpl.topk_by(col("score"), col("key"), col("pay"), k).as("top"))
        .select(col("grp"), explode(col("top")).as("e"))
        .select(col("grp"), col("e.key"), col("e.score"),
          col("e.payload.pay_a"), col("e.payload.pay_b"), col("e.rnk"))
        .as[(Long, String, Double, Long, String, Int)].collect().toSet
      val want = windowTwin(k)
      assert(got === want, s"k=$k")
      assert(want.nonEmpty && got.size == 40 * k)
    }
  }

  test("NaN scores rank above every double, matching the window's total order") {
    // raw >/== comparisons leave NaN unordered (it neither displaces nor is
    // displaced); Double.compare ranks it greater-than-all, which is what
    // row_number() OVER (ORDER BY score DESC) does. quantileNormalizeSketch
    // (empty grid) and idw_fold can feed NaN scores into keep-best.
    val rows = spark.range(600).select(
      (col("id") % 3).as("grp"),
      concat(lit("k"), format_string("%04d", col("id"))).as("key"),
      when(col("id") % 100 === 7, lit(Double.NaN))
        .otherwise(((col("id") * 31) % 13).cast("double")).as("score"))
      .repartition(5)
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("key").asc)
    val want = rows.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 4)
      .select(col("grp"), col("key"), col("rnk"))
      .as[(Long, String, Int)].collect().toSet
    val got = rows.groupBy("grp")
      .agg(GeoFunctionsImpl.topk_by(col("score"), col("key"), 4).as("top"))
      .select(col("grp"), explode(col("top")).as("e"))
      .select(col("grp"), col("e.key"), col("e.rnk"))
      .as[(Long, String, Int)].collect().toSet
    assert(want.exists(_._2.endsWith("0007")), "fixture must put a NaN in the top-4")
    assert(got === want)
  }

  test("-0.0 ties 0.0 (key tie-break), matching SQL double ordering; knn_topk NaN-safe") {
    // SQLOrderingUtil.compareDoubles checks == first, so -0.0 == 0.0 and the
    // tie breaks by key ASC — raw Double.compare would rank 0.0 above -0.0
    val zs = Seq((0L, "a", -0.0), (0L, "b", 0.0)).toDF("grp", "key", "score")
    val top1 = zs.groupBy("grp")
      .agg(GeoFunctionsImpl.topk_by(col("score"), col("key"), 1).as("t"))
      .select(explode(col("t")).as("e")).select(col("e.key"))
      .as[String].head()
    assert(top1 === "a", "-0.0 and 0.0 must tie; key ASC keeps 'a'")
    // knn_topk: a NaN distance must rank LAST (ascending), not poison the
    // buffer's shift/evict ordering
    val rows = Seq((1L, "t_nan", Double.NaN), (1L, "t_far", 1.0), (1L, "t_near", 0.5))
      .toDF("probe", "tid", "d2").repartition(3)
    val got = rows.groupBy("probe")
      .agg(GeoFunctionsImpl.knn_topk(col("d2"), col("tid"), 2).as("nn"))
      .select(explode(col("nn")).as("m"))
      .select(col("m.target_id"), col("m.rnk")).as[(String, Int)].collect().toSet
    assert(got === Set(("t_near", 1), ("t_far", 2)),
      "window twin keeps the two finite distances; NaN sorts last")
  }

  test("payload-free 3-arg form and SQL surface agree with the window") {
    val want = windowTwin(2).map { case (g, key, s, _, _, r) => (g, key, s, r) }
    val got = cands.groupBy("grp")
      .agg(GeoFunctionsImpl.topk_by(col("score"), col("key"), 2).as("top"))
      .select(col("grp"), explode(col("top")).as("e"))
      .select(col("grp"), col("e.key"), col("e.score"), col("e.rnk"))
      .as[(Long, String, Double, Int)].collect().toSet
    assert(got === want)
    // SQL registration path
    GeoFunctionsImpl.register(spark)
    cands.createOrReplaceTempView("topk_cands")
    val sqlGot = spark.sql(
      """SELECT grp, e.key, e.score, e.rnk
        |FROM (SELECT grp, topk_by(score, key, 2) AS top FROM topk_cands GROUP BY grp)
        |LATERAL VIEW explode(top) t AS e""".stripMargin)
      .as[(Long, String, Double, Int)].collect().toSet
    assert(sqlGot === want)
  }

  test("k=1 is argmax with (score desc, key asc) tie-break") {
    // every group has many rows at the max score — the kept key must be the
    // smallest among them, deterministically
    val got = cands.groupBy("grp")
      .agg(GeoFunctionsImpl.topk_by(col("score"), col("key"), 1).as("top"))
      .select(col("grp"),
        element_at(col("top"), 1).getField("key").as("key"),
        element_at(col("top"), 1).getField("score").as("score"))
      .as[(Long, String, Double)].collect().toMap2
    val want = cands.select(col("grp"), col("key"), col("score"))
      .as[(Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues { rs =>
        val best = rs.map { case (_, key, s) => (s, key) }.sortBy { case (s, key) => (-s, key) }.head
        (best._2, best._1)
      }.toMap
    assert(got === want)
  }

  test("bigint key keeps its type and ties break NUMERICALLY (2 before 10)") {
    // regression: an implicit cast-to-string would both flip this tie-break
    // (UTF8String "10" < "2") and change the output schema to string —
    // diverging from the row_number window twin and the DuckDB oracle
    val df = Seq((1L, 2L, 5.0), (1L, 10L, 5.0), (2L, 30L, 1.0), (2L, 4L, 2.0))
      .toDF("grp", "doc_id", "quality")
    val out = df.groupBy("grp")
      .agg(GeoFunctionsImpl.topk_by(col("quality"), col("doc_id"), 1).as("top"))
      .select(col("grp"), element_at(col("top"), 1).getField("key").as("keeper"))
    assert(out.schema("keeper").dataType === org.apache.spark.sql.types.LongType,
      "keeper must keep the key's input type")
    val got = out.as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 4L))
  }

  test("groups smaller than k return all members, null score/key rows skipped") {
    val small = Seq(
      (1L, Some("a"), Some(2.0)), (1L, Some("b"), None), (1L, None, Some(9.0)),
      (2L, Some("z"), Some(1.0))).toDF("grp", "key", "score")
    val got = small.groupBy("grp")
      .agg(GeoFunctionsImpl.topk_by(col("score"), col("key"), 5).as("top"))
      .select(col("grp"), explode(col("top")).as("e"))
      .select(col("grp"), col("e.key"), col("e.rnk"))
      .as[(Long, String, Int)].collect().toSet
    assert(got === Set((1L, "a", 1), (2L, "z", 1)))
  }

  test("long_topk == row_number window over non-null v (duplicates, nulls, k > group), Column and SQL") {
    // 30 groups of 1..30 rows: values repeat inside a group, every 9th is
    // null, and k = 12 exceeds the smaller groups
    val rows = spark.range(465).select(
      (col("id") % 30).as("grp"),
      when(col("id") % 9 === 4, lit(null).cast("long"))
        .otherwise((col("id") * 7) % 11).as("v"))
      .where(col("id") < (col("id") % 30 + 1) * 15)
      .repartition(6)
    val w = Window.partitionBy("grp").orderBy(col("v"))
    def want(k: Int) = rows.where(col("v").isNotNull)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    for (k <- Seq(1, 3, 12)) {
      val got = rows.groupBy("grp")
        .agg(GeoFunctionsImpl.long_topk(col("v"), k).as("top"))
        .select(col("grp"), explode(col("top")).as("e"))
        .select(col("grp"), col("e.v"), col("e.rn"))
        .as[(Long, Long, Int)].collect().toSeq.sorted
      assert(got === want(k), s"k=$k")
    }
    val sizes = rows.where(col("v").isNotNull).groupBy("grp").count()
      .as[(Long, Long)].collect().map(_._2)
    assert(sizes.exists(_ < 12) && sizes.exists(_ > 12), "k must straddle the group sizes")
    GeoFunctionsImpl.register(spark)
    rows.createOrReplaceTempView("long_topk_in")
    val sqlGot = spark.sql(
      """SELECT grp, e.v, e.rn
        |FROM (SELECT grp, long_topk(v, 12) AS top FROM long_topk_in GROUP BY grp)
        |LATERAL VIEW explode(top) t AS e""".stripMargin)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(sqlGot === want(12))
  }

  test("knn_topk skips null d2/id rows and keeps target_id: string, d2: double, rnk: int") {
    import org.apache.spark.sql.types._
    val rows = Seq(
      (1L, Some("a"), Some(3.0)), (1L, Some("b"), None), (1L, None, Some(0.5)),
      (1L, Some("c"), Some(1.0)), (2L, None, None), (3L, Some("z"), Some(2.0)))
      .toDF("probe", "tid", "d2").repartition(3)
    val out = rows.groupBy("probe")
      .agg(GeoFunctionsImpl.knn_topk(col("d2"), col("tid"), 5).as("nn"))
    def fields(t: DataType) = t match {
      case ArrayType(s: StructType, _) => s.fields.map(f => (f.name, f.dataType)).toSeq
      case other => fail(s"knn_topk must return an array of structs, got $other")
    }
    val schema = Seq(("target_id", StringType), ("d2", DoubleType), ("rnk", IntegerType))
    assert(fields(out.schema("nn").dataType) === schema)
    val got = out.select(col("probe"), explode(col("nn")).as("m"))
      .select(col("probe"), col("m.target_id"), col("m.d2"), col("m.rnk"))
      .as[(Long, String, Double, Int)].collect().toSet
    assert(got === Set((1L, "c", 1.0, 1), (1L, "a", 3.0, 2), (3L, "z", 2.0, 1)))
    // a probe whose rows all carry a null d2 or id keeps an empty array
    assert(out.where(col("probe") === 2L).select(size(col("nn"))).as[Int].head() === 0)
    GeoFunctionsImpl.register(spark)
    rows.createOrReplaceTempView("knn_topk_null_in")
    val sql = spark.sql(
      "SELECT probe, knn_topk(d2, tid, 5) AS nn FROM knn_topk_null_in GROUP BY probe")
    assert(fields(sql.schema("nn").dataType) === schema)
  }

  private implicit class MapOps(rows: Array[(Long, String, Double)]) {
    def toMap2: Map[Long, (String, Double)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
