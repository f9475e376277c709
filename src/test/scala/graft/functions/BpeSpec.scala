package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/**
 * BPE trainer/encoder oracles. The merge loop is not ANSI-expressible, so
 * correctness rests on (a) the textbook corpus whose merge sequence is
 * hand-derivable, (b) the lossless round-trip invariant (tokens concatenate
 * back to the lowercased source words), and (c) exact-count determinism
 * across partitionings — the g15 row then rides the driver's 4-vs-8-core
 * determinism probe.
 */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("textbook corpus: merge order is the hand-derived sequence; lowest-rank greedy encode") {
    // Sennrich et al.'s example dictionary
    val dict = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val m = BpeTokenizer.trainOnDict(dict, numMerges = 4)
    // pair counts: (e,s)=9 ties (s,t)=9 → lexicographic; then (es,t)=9;
    // then (l,o)=7 ties (o,w)=7 → lexicographic; then (lo,w)=7
    assert(m.merges.toSeq === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    assert(m.encodeWord("lowest") === Seq("low", "est"))
    assert(m.encodeWord("newest") === Seq("n", "e", "w", "est"))
    assert(m.encodeWord("zzz") === Seq("z", "z", "z"), "unseen chars stay singletons")
    assert(m.encodeWord("") === Seq.empty)
    // early stop: every pair unique → no merge reaches minPairCount
    val flat = BpeTokenizer.trainOnDict(Seq(("abc", 1L)), numMerges = 10)
    assert(flat.merges.isEmpty)
  }

  test("round trip: Spark-encoded tokens concatenate back to the lowercased words") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = BpeTokenizer.train(docs, numMerges = 120, maxWords = 2000)
    assert(model.merges.length > 50, "corpus must actually yield merges")
    val rows = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        BpeTokenizer.encodeTokens(model, org.apache.spark.sql.functions.col("text"))
          .as("tokens"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, Seq[String], String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, toks, text) =>
      val want = Option(text).getOrElse("").toLowerCase.split(" ")
        .filter(_.nonEmpty).mkString
      assert(toks.mkString === want, s"doc $id lost content in tokenization")
    }
    // merged subwords really occur: some token longer than one char
    assert(rows.exists(_._2.exists(_.length > 1)))
  }

  test("training is exact and partitioning-invariant; encode plan is scan-local codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = BpeTokenizer.train(docs.repartition(3), numMerges = 80, maxWords = 1500)
    val b = BpeTokenizer.train(docs.repartition(7), numMerges = 80, maxWords = 1500)
    assert(a.merges.toSeq === b.merges.toSeq,
      "word counts are exact and tie-breaks total — merges must not depend on partitioning")
    val q = docs.select(BpeTokenizer.encodeTokens(a,
      org.apache.spark.sql.functions.col("text")).as("tokens"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"encode must be scan-local:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("bpe_encode") && l.contains("*(")),
      s"bpe_encode must sit in a codegen span:\n$plan")
  }
}
