package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("backward as-of join == brute force (random keys/timestamps)") {
    val rnd = new scala.util.Random(7)
    val left = (0 until 400).map(i => (rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong, s"l$i"))
    val right = (0 until 300).map(i => (rnd.nextInt(10).toLong, (rnd.nextInt(500) * 2).toLong, i * 0.5))
      .distinctBy(r => (r._1, r._2)) // unique per (key, ts) — documented precondition
    val lDf = left.toDF("k", "ts", "tag")
    val rDf = right.toDF("k", "ts", "value")
    val got = AsOfJoin.backward(lDf, rDf, Seq("k"), "ts")
      .select("k", "ts", "tag", "r_ts", "r_value")
      .as[(Long, Long, String, Long, Double)].collect().toSet
    val want = graft.Oracles.asOfBruteForce(left, right).collect {
      case (k, ts, tag, Some((rts, v))) => (k, ts, tag, rts, v)
    }.toSet
    assert(got === want)
    assert(want.nonEmpty)
    // outer keeps unmatched left rows
    assert(AsOfJoin.backward(lDf, rDf, Seq("k"), "ts", inner = false).count() === 400)
  }

  test("forward as-of join == brute force (next right row at or after left ts)") {
    val rnd = new scala.util.Random(13)
    val left = (0 until 400).map(i => (rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong, s"l$i"))
    val right = (0 until 300).map(i => (rnd.nextInt(10).toLong, (rnd.nextInt(500) * 2).toLong, i * 0.5))
      .distinctBy(r => (r._1, r._2))
    val got = AsOfJoin.forward(left.toDF("k", "ts", "tag"), right.toDF("k", "ts", "value"),
        Seq("k"), "ts")
      .select("k", "ts", "tag", "r_ts", "r_value")
      .as[(Long, Long, String, Long, Double)].collect().toSet
    val want = left.flatMap { case (k, ts, tag) =>
      right.filter(r => r._1 == k && r._2 >= ts)
        .sortBy(_._2).headOption.map(r => (k, ts, tag, r._2, r._3))
    }.toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("null timestamps never match: right nulls ignored, left nulls dropped/unmatched") {
    // a null-ts right row sorts NULLS FIRST under the sweep's ascending
    // order — without filtering it would become the carry-forward "match"
    // for every left row with no true predecessor
    val lDf = Seq((1L, Option(100L), "a"), (1L, Option.empty[Long], "b"))
      .toDF("k", "ts", "tag")
    val rDf = Seq((1L, Option.empty[Long], 1.0), (1L, Option(50L), 2.0))
      .toDF("k", "ts", "value")
    val inner = AsOfJoin.backward(lDf, rDf, Seq("k"), "ts")
      .select("k", "ts", "tag", "r_ts", "r_value")
      .as[(Long, Long, String, Long, Double)].collect().toSet
    assert(inner === Set((1L, 100L, "a", 50L, 2.0)),
      "only the real (ts=50) right row may match; null-ts rows on either side must not")
    val outer = AsOfJoin.backward(lDf, rDf, Seq("k"), "ts", inner = false)
      .select("tag", "r_ts").as[(String, Option[Long])].collect().toSet
    assert(outer === Set(("a", Some(50L)), ("b", None)),
      "outer keeps the null-ts left row, unmatched")
    val fwd = AsOfJoin.forward(lDf, rDf, Seq("k"), "ts")
      .select("tag").as[String].collect().toSet
    assert(fwd === Set.empty[String], "no right ts >= 100 exists; null rows must not fill in")
  }

  test("equal timestamps match inclusively; matches never cross keys or look ahead") {
    val lDf = Seq((1L, 100L, "a"), (1L, 99L, "b"), (2L, 100L, "c")).toDF("k", "ts", "tag")
    val rDf = Seq((1L, 100L, 7.0), (2L, 101L, 9.0)).toDF("k", "ts", "value")
    val got = AsOfJoin.backward(lDf, rDf, Seq("k"), "ts")
      .select("k", "tag", "r_ts", "r_value").as[(Long, String, Long, Double)].collect().toSet
    // "a": equal-ts match (inclusive); "b": only later right rows -> dropped;
    // "c": key 2's right row is in the future -> dropped
    assert(got === Set((1L, "a", 100L, 7.0)))
  }
}
