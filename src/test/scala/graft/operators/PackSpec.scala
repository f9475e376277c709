package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

class PackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sequence packing == greedy oracle; invariant under input partitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sizes = docs.select(col("doc_id").cast("long"),
      size(split(col("text"), " ")).cast("long")).as[(Long, Long)].collect()
    val want = graft.Oracles.brutePack(sizes.toSeq, budget = 200L, shards = 8)
      .map(p => (p.shard, p.doc_id, p.n_tokens, p.seq_id)).toSet
    for (parts <- Seq(1, 7)) {
      val got = Pack.sequences(docs.repartition(parts), budget = 200L)
        .collect().map(p => (p.shard, p.doc_id, p.n_tokens, p.seq_id)).toSet
      assert(got === want, s"parts=$parts drifted from the greedy oracle")
    }
  }

  test("dirty corpora: null text counts as empty string, null ids are excluded") {
    val docs = Seq[(java.lang.Long, String)](
      (3L, "a b c"), (11L, null), (null, "x y z"))
      .toDF("doc_id", "text")
    val got = Pack.sequences(docs, budget = 10L).collect()
    // the null-id row has no deterministic shard — excluded, not crashed
    assert(got.map(_.doc_id).toSet === Set(3L, 11L))
    // null text == "" == one empty token under single-space split semantics
    assert(got.find(_.doc_id == 11L).get.n_tokens === 1L)
  }

  test("packing semantics: budget respected, oversized docs isolated, sequences dense") {
    // hand-built shard: ids all ≡ 3 (mod 8) so they land in one shard;
    // sizes: 120+60 fit in 200, 150 opens seq 1, 500 (oversized) gets its
    // own seq 2, 10+10 pack into seq 3
    val docs = Seq(
      (3L, 120L), (11L, 60L), (19L, 150L), (27L, 500L), (35L, 10L), (43L, 10L)
    ).map { case (id, n) => (id, (1L to n).map(_ => "w").mkString(" ")) }
      .toDF("doc_id", "text")
    val got = Pack.sequences(docs, budget = 200L)
      .collect().map(p => p.doc_id -> p.seq_id).toMap
    assert(got === Map(3L -> 0L, 11L -> 0L, 19L -> 1L, 27L -> 2L, 35L -> 3L, 43L -> 3L))
    // per-sequence totals respect the budget EXCEPT single oversized docs
    val bySeq = Pack.sequences(docs, budget = 200L).collect().groupBy(_.seq_id)
    bySeq.foreach { case (_, ds) =>
      assert(ds.map(_.n_tokens).sum <= 200L || ds.length == 1)
    }
  }
}
