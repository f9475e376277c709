package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/**
 * TF-IDF keyword extraction vs a driver-side exact replay — Spark's `log`
 * evaluates via StrictMath.log (verified in the catalyst bytecode; HotSpot's
 * Math.log intrinsic may differ by 1 ulp), so the replay uses StrictMath too
 * and the comparison is bit-deterministic (cross-ENGINE ln() parity is the
 * reason this operator has no DuckDB row; cross-IMPLEMENTATION parity with
 * the identical StrictMath is exact).
 */
class TextStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("canonicalUrl: case/fragment/tracking/param-order/trailing-slash all normalize") {
    import org.apache.spark.sql.functions._
    val cases = Seq(
      // scheme+host lowercase, path case preserved, fragment dropped
      ("HTTPS://Ex.COM/Path/A#frag", "https://ex.com/Path/A"),
      // tracking params removed, survivors sorted
      ("https://ex.com/a?z=1&utm_source=f&a=2&fbclid=xyz", "https://ex.com/a?a=2&z=1"),
      // gclid dropped; all-tracking query disappears entirely
      ("https://ex.com/a?gclid=1&utm_campaign=x", "https://ex.com/a"),
      // trailing slashes trim; bare host normalizes to '/'
      ("http://Ex.com/dir///", "http://ex.com/dir"),
      ("http://ex.com", "http://ex.com/"),
      ("http://ex.com/?q=1", "http://ex.com/?q=1"),
      // port and userinfo stay part of the (lowercased) authority
      ("https://User@Ex.com:8443/P?b=2&a=1", "https://user@ex.com:8443/P?a=1&b=2"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.functions.TextFunctions.canonicalUrl(col("url")))
      .as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) => assert(g === want, s"input $in") }
    // equivalence classes: the three q99 variants collapse
    val variants = Seq(
      "HTTPS://Src1.Example.COM/Page/3?utm_source=feed&q=1#frag",
      "https://src1.example.com/Page/3/?q=1&utm_campaign=x",
      "https://SRC1.example.com/Page/3?q=1#sec")
    val canons = variants.toDF("url")
      .select(graft.functions.TextFunctions.canonicalUrl(col("url")))
      .as[String].collect().toSet
    assert(canons === Set("https://src1.example.com/Page/3?q=1"))
  }

  test("tfidfTopTerms == exact driver replay (ranks, tf, df)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val n = rows.length.toDouble
    val termsPerDoc = rows.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").filter(_.nonEmpty)
    }
    val df = termsPerDoc.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong).toMap
    val want = termsPerDoc.flatMap { case (id, ts) =>
      ts.groupBy(identity).view.mapValues(_.length.toLong).toSeq
        .map { case (term, tf) =>
          (term, tf, df(term), tf.toDouble * StrictMath.log(n / df(term).toDouble)) }
        .sortBy { case (term, _, _, s) => (-s, term) }
        .take(3).zipWithIndex
        .map { case ((term, tf, dfv, _), i) => (id, term, tf, dfv, i + 1) }
    }.toSet
    val got = TextFunctions.tfidfTopTerms(docs)
      .as[(Long, String, Long, Long, Int)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("bm25TopDocs == exact driver replay (StrictMath idf, sorted-fold sum)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val n = rows.length
    val termsPerDoc = rows.map { case (id, t) =>
      id -> Option(t).getOrElse("").toLowerCase.split(" ").filter(_.nonEmpty)
    }
    val tf = termsPerDoc.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (w, o) => ((id, w), o.length.toLong) }
    }.toMap
    val dl = termsPerDoc.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val dfm = termsPerDoc.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val k1 = 1.2; val b = 0.75; val kTop = 10
    val avgdl = dl.values.sum.toDouble / n.toDouble
    // query set: first 5 raw tokens of every 17th doc (the g9 recipe at a
    // modulus that yields several queries at sf0.001)
    val queries = rows.filter(_._1 % 17 == 0).map { case (id, t) =>
      id -> Option(t).getOrElse("").split(" ").take(5).mkString(" ") }
    val want = queries.flatMap { case (qid, qtext) =>
      val qts = qtext.toLowerCase.split(" ").filter(_.nonEmpty).distinct
      val cands = termsPerDoc.map(_._1).filter(d => qts.exists(t => tf.contains((d, t))))
      cands.map { d =>
        // fold in sorted-term order, exactly as the sort_array + aggregate
        val score = qts.filter(t => tf.contains((d, t))).sorted
          .foldLeft(0.0) { (acc, t) =>
            val dfv = dfm(t).toDouble; val tfv = tf((d, t)).toDouble
            val idf = StrictMath.log(1.0 + (n.toDouble - dfv + 0.5) / (dfv + 0.5))
            acc + idf * (tfv * (k1 + 1.0)) /
              (tfv + k1 * ((1.0 - b) + b * dl(d).toDouble / avgdl))
          }
        (qid, d, score)
      }.sortBy { case (_, d, s) => (-s, d) }.take(kTop).zipWithIndex
        .map { case ((q, d, s), i) => (q, d, s, i + 1) }
    }.toSet
    val qdf = spark.createDataset(queries.toSeq).toDF("query_id", "query")
    val got = TextFunctions.bm25TopDocs(docs, qdf, k = kTop)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(want.nonEmpty && want.exists(_._4 > 1), "fixture should rank >1 doc")
    assert(got === want)
  }

  test("topNgramMass: mass is a true fraction — self-overlapping grams clamp to 1.0") {
    val docs = Seq(
      (1L, "a a a a"),          // "a a" occurs 3x overlapping: unclamped 1.5
      (2L, "x y x y z"),        // top "x y" 2x, total grams 4, T=5 → 0.8
      (3L, "w")                 // no 2-gram
    ).toDF("doc_id", "text")
    val got = TextFunctions.topNgramMass(docs, n = 2).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getDouble(3))).toMap
    assert(got(1L) === ((Some("a a"), 1.0)), "overlap must clamp to a fraction")
    assert(got(2L) === ((Some("x y"), 0.8)))
    assert(got(3L) === ((None, 0.0)))
  }

  test("c4_clean kernel == declarative HOF twin on adversarial line structure") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "Good sentence with words here."),
      (2L, "short."),                                   // < 3 words
      (3L, "no terminal punctuation at all"),
      (4L, "Uses JavaScript on this line today.\nBut this line is fine and kept."),
      (5L, "Ends with a question mark?\nEnds with bang!\nEnds with quote\""),
      (6L, ""),                                         // empty text: 1 empty line
      (7L, "a  b   c." ),                               // multi-space: 3 words
      (8L, "Lorem Ipsum dolor sit amet."),              // lorem flag, line kept
      (9L, "code { return 1; }\nA normal prose sentence follows it."),
      (10L, "line one is fine.\n\nline after a blank line stays too.")
    ).toDF("doc_id", "text")
    val both = docs.select(col("doc_id"),
      graft.functions.TextFunctions.c4CleanText(col("text")).as("kernel"),
      graft.Oracles.c4CleanDeclarative(col("text")).as("twin"))
      .collect()
    both.foreach(r => assert(r.getString(1) === r.getString(2),
      s"doc ${r.getLong(0)}: kernel=${r.getString(1)} twin=${r.getString(2)}"))
    // spot semantics: the javascript line drops, its sibling survives
    val m = both.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(4L) === "But this line is fine and kept.")
    assert(m(5L).split("\n").length === 3, "all three terminal forms keep")
    assert(m(2L) === "" && m(3L) === "" && m(6L) === "")
    assert(m(7L) === "a  b   c.", "words are non-empty runs, not split slots")
    // doc-level flags + null-text contract
    val flags = docs.select(col("doc_id") +:
      graft.functions.TextFunctions.c4Columns(col("text")): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(6), r.getBoolean(7), r.getInt(8)))).toMap
    assert(flags(8L) === ((true, false, 1)), "case-insensitive lorem ipsum")
    assert(flags(9L) === ((false, true, 1)))
    val nulls = Seq((11L, null: String)).toDF("doc_id", "text")
      .select(col("doc_id") +: graft.functions.TextFunctions.c4Columns(col("text")): _*)
      .head()
    assert(nulls.getString(1) === "" && nulls.getInt(2) === 1 && nulls.getInt(3) === 0)
  }

  test("lmCoverage: known fractions, gramless docs, top-k tie boundary") {
    // reference: "a b" x3, "b c" x2, "c d" x1 — top-2 = {a b, b c}
    val ref = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"),
      (4L, "b c"), (5L, "b c"), (6L, "c d")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b c"),     // grams: "a b","b c" → 2/2
      (11L, "c d e"),     // grams: "c d","d e" → 0/2
      (12L, "a b x y"),   // grams: "a b","b x","x y" → 1/3
      (13L, "solo"),      // gramless
      (14L, null: String) // null text
    ).toDF("doc_id", "text")
    val got = TextFunctions.lmCoverage(docs, ref, k = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) === ((2L, 2L, 1.0)))
    assert(got(11L) === ((2L, 0L, 0.0)))
    assert(got(12L) === ((3L, 1L, 1.0 / 3.0)))
    assert(got(13L) === ((0L, 0L, 0.0)))
    assert(got(14L) === ((0L, 0L, 0.0)))
    // tie at the k boundary resolves by gram ascending: with k=2 and "b c"
    // tied against a hypothetical equal-count gram, determinism comes from
    // (cnt desc, gram asc) — probe with an exact tie
    val ref2 = Seq((1L, "a b"), (2L, "z z")).toDF("doc_id", "text") // both cnt 1
    val got2 = TextFunctions.lmCoverage(Seq((20L, "a b z z")).toDF("doc_id", "text"),
      ref2, k = 1).as[(Long, Long, Long, Double)].head()
    // top-1 = "a b" (ascending tie-break); doc grams: "a b","b z","z z" → 1/3
    assert(got2 === ((20L, 3L, 1L, 1.0 / 3.0)))
  }

  test("corpusReport: totals/percentiles exact, partition-order invariant") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), col("n_docs"), col("n_tokens"), col("distinct_fp"),
        col("tok_min"),
        concat_ws(",", col("tok_p50"), col("tok_p90"), col("tok_p99")).as("p"),
        col("tok_max"), col("n_langs"))
      .as[(String, Long, Long, Long, Long, String, Long, Long)].collect().toSet
    val got = canon(TextFunctions.corpusReport(docs))
    assert(got === canon(TextFunctions.corpusReport(docs.repartition(13, col("doc_id")))),
      "report must be identical across partitionings")
    // brute-force one source
    val rows = docs.select("source", "text").as[(String, String)].collect()
    val src = rows.head._1
    val toks = rows.filter(_._1 == src).map(_._2.split(" ", -1).length.toLong).sorted
    val row = got.find(_._1 == src).get
    assert(row._2 === toks.length.toLong)
    assert(row._3 === toks.sum)
    assert(row._5 === toks.head && row._7 === toks.last)
    // HLL at p=12 on a few dozen distinct values is exact in expectation ±
    // its guarantee; here just sanity-bound it
    assert(row._4 > 0L && row._4 <= row._2 * 2)
  }

  test("c4PageDrop composes the paper's page rules") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "One. Two! Three? is enough sentences."),    // 3+ terminals → keep
      (2L, "Only one sentence here."),                   // < 3 sentences → drop
      (3L, "A. B. C. but has lorem ipsum in it."),       // lorem → drop
      (4L, "A. B. C. but has a { brace.")                // brace → drop
    ).toDF("doc_id", "text")
    val kept = docs.where(!graft.functions.TextFunctions.c4PageDrop(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
  }

  test("quantileNormalizeSketch tracks exact percent_rank within grid+KLL error; no sort") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityColumns(col("text")).last.as("score"))
    val exact = TextFunctions.quantileNormalize(docs)
      .select("doc_id", "qnorm").as[(Long, Double)].collect().toMap
    val est = TextFunctions.quantileNormalizeSketch(docs)
    est.collect()
    val plan = est.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Window"), s"sketch path must not sort per source:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"grid table must broadcast:\n$plan")
    val rows = est.select("doc_id", "source", "score", "qnorm_est")
      .as[(Long, String, Double, Double)].collect()
    assert(rows.length === exact.size)
    // error bound: 1/gridN grid resolution + KLL rank error (guarantee-
    // tested elsewhere); generous envelope at this n/k
    val worst = rows.map(r => math.abs(r._4 - exact(r._1))).max
    assert(worst <= 0.08, s"sketch rank estimate drifted: worst=$worst")
    // monotone within source: higher score never gets a lower estimate
    rows.groupBy(_._2).foreach { case (src, rs) =>
      rs.sortBy(_._3).map(_._4).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b, s"$src: rank estimate must be monotone")
        case _ =>
      }
    }
  }

  test("chunkDocs: sliding windows with overlap, short tail, empty/null docs, scan-local") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),   // 10 tokens
      (2L, "solo"),
      (3L, ""),
      (4L, null: String)
    ).toDF("doc_id", "text")
    val q = TextFunctions.chunkDocs(docs, chunkTokens = 4, overlap = 1)
    val got = q.as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    // stride 3: starts 0,3,6,9 → three full windows and a 1-token tail
    assert(got(1L) === Seq(("t1 t2 t3 t4", 4), ("t4 t5 t6 t7", 4),
      ("t7 t8 t9 t10", 4), ("t10", 1)))
    assert(got(2L) === Seq(("solo", 1)))
    assert(got(3L) === Seq(("", 1)), "empty doc yields one empty slot-chunk")
    assert(got(4L) === Seq(("", 1)), "null text behaves as empty")
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"chunking must be scan-local:\n$plan")
    // adjacent windows share exactly the `overlap` boundary token
    val w1 = got(1L).map(_._1.split(" ").toSeq)
    w1.sliding(2).foreach {
      case Seq(a, b) => assert(a.last === b.head, s"overlap violated: $a | $b")
      case _ =>
    }
  }

  test("norm_text kernel: accent strip, control collapse, null, idempotence") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "  Résumé  Café\tNaïve  "),
      (2L, "Ñandú\u0001über\u0007 FAÇADE"),
      (3L, "plain ASCII Text"),
      (4L, ""),
      (5L, null: String),
      (6L, "\u0000\u001f\u007f \r\n"),                  // controls only → ""
      (7L, "Àéîõü çğšž")                                // wider Latin accents
    ).toDF("doc_id", "text")
    val norm = graft.functions.TextFunctions.normText(col("text"))
    val got = docs.select(col("doc_id"), norm.as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "resume cafe naive")
    assert(got(2L) === "nandu uber facade", "C0 controls are separators")
    assert(got(3L) === "plain ascii text")
    assert(got(4L) === "" && got(5L) === "" && got(6L) === "")
    assert(got(7L) === "aeiou cgsz")
    // idempotence — normalized text re-normalizes to itself, so signatures
    // computed before and after a second pass agree
    docs.select(norm.as("n1"),
        graft.functions.TextFunctions.normText(norm).as("n2")).collect()
      .foreach(r => assert(r.getString(0) === r.getString(1)))
  }
}
