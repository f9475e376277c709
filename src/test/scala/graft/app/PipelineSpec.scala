package graft.app

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.{IceLite, ImageGen}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val polys = graft.Bench.benchPolygons
  lazy val imagesDir: String = {
    val d = java.nio.file.Files.createTempDirectory("pipe_imgs").toString
    ImageGen.table(spark, 3000, 8).write.mode("overwrite").parquet(d)
    d
  }

  test("north-star pipeline: enrich rows == brute-force PIP; kNN-1 and tiles attached") {
    val images = spark.read.parquet(imagesDir)
    val out = Pipeline.enrich(images, polys).collect()
    // PIP row set equals the brute-force oracle
    val pts = (0L until 3000L).map { i =>
      val (x, y) = ImageGen.geotag(i); (f"img_$i%010d", x, y)
    }
    val want = graft.operators.PipJoin.bruteForce(pts, polys)
    assert(out.map(r => (r.getString(0), r.getString(5))).toSet === want)
    assert(want.nonEmpty)
    // nearest centroid is rank-1 of the brute-force kNN
    val centroids = polys.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    val nn1 = graft.operators.KnnJoin.bruteForce(pts, centroids, 1)
      .map(t => t._1 -> t._2).toMap
    out.foreach { r => assert(r.getString(6) === nn1(r.getString(0))) }
    // tile matches tile_of
    out.foreach { r =>
      val t = graft.core.Tiles.pack(graft.core.Tiles.tileOf(r.getDouble(1), r.getDouble(2), 20))
      assert(r.getLong(4) === t)
    }
  }

  // planted caption duplicates: groups of 3 consecutive ids share an
  // IDENTICAL group caption (banding collision probability 1 — the
  // probabilistic near-dup recall of non-identical pairs is the operators'
  // concern, oracle-proven by q19/q36/q37; this fixture tests the pipeline
  // WIRING deterministically). Quality ties within a group, so the keeper is
  // the min id (i%3==0); cross-group Jaccard is 0.
  lazy val curatedImagesDir: String = {
    val d = java.nio.file.Files.createTempDirectory("pipe_cur_imgs").toString
    (0L until 3000L).map { i =>
      val (x, y) = ImageGen.geotag(i)
      val g = i / 3
      (f"img_$i%010d", s"g$g h$g k$g m$g w$g", x, y)
    }.toDF("image_id", "caption", "x", "y").write.mode("overwrite").parquet(d)
    d
  }

  test("curation stage: near-dup groups collapse to the min-id keeper; split attached") {
    val imgs = spark.read.parquet(curatedImagesDir)
    val curated = Pipeline.curate(imgs).collect()
    val ids = curated.map(_.getString(0)).toSet
    assert(ids === (0L until 3000L by 3).map(i => f"img_$i%010d").toSet,
      "each group of 3 near-dup captions must keep exactly its min id")
    // the split column is the deterministic content-derived hash split
    val splits = curated.map(r => r.getString(0) -> r.getString(4)).toMap
    val again = Pipeline.curate(imgs).collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(splits === again, "split must be byte-stable across runs")
    assert(splits.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(splits.values.toSet.size === 3, "3000/3 keepers should hit all three splits")
  }

  test("curation gates: PII scrub rewrites captions; repetition + decontamination drop rows") {
    // distinct captions (no dedup interference): id 0 carries an email,
    // id 1 is pure boilerplate (one repeated token), id 2 matches the eval
    // set verbatim, the rest are clean and unique
    val rows = (0L until 40L).map { i =>
      val cap = i match {
        case 0 => "reach me at someone@example.com for details today ok"
        case 1 => "spam spam spam spam spam spam spam spam spam spam"
        case 2 => "the secret benchmark answer is forty two exactly here"
        // PII *inside* a contaminated passage: redaction must not mask the
        // eval overlap (the eval side is scrubbed identically)
        case 3 => "email leak@bench.org about the hidden answer key today"
        case _ => s"unique caption number $i with words a$i b$i c$i d$i"
      }
      (f"img_$i%010d", cap, 457840.0 + i * 0.01, 5439081.0)
    }.toDF("image_id", "caption", "x", "y")
    val evalSet = Seq(
      (900L, "the secret benchmark answer is forty two exactly here"),
      (901L, "email leak@bench.org about the hidden answer key today"))
      .toDF("image_id", "caption")
    val curated = Pipeline.curate(rows, scrubPii = true, maxRepetition = 0.6,
      evalDocs = Some(evalSet), maxContamination = 0.5)
      .select("image_id", "caption").as[(String, String)].collect().toMap
    // PII scrubbed in the SURVIVING row, not dropped
    assert(curated(f"img_${0L}%010d").contains("<EMAIL>"))
    assert(!curated(f"img_${0L}%010d").contains("example.com"))
    // boilerplate (rep_frac = 1 - 1/8 > 0.6) and contaminated rows are gone
    assert(!curated.contains(f"img_${1L}%010d"), "repetition gate must drop boilerplate")
    assert(!curated.contains(f"img_${2L}%010d"), "decontamination must drop eval matches")
    assert(!curated.contains(f"img_${3L}%010d"),
      "redaction must not mask contamination (eval side scrubbed identically)")
    // clean rows all survive with their original captions
    (4L until 40L).foreach(i => assert(curated(f"img_$i%010d").startsWith("unique caption")))
    // gates off == previous behavior (all rows survive, none rewritten)
    val plain = Pipeline.curate(rows).select("image_id").as[String].collect()
    assert(plain.length === 40)
  }

  test("gopher gates: duplicate-line and symbol-ratio rules drop flagged rows") {
    val rows = (0L until 20L).map { i =>
      val cap = i match {
        // 3 of 4 lines are the same line → dup_line_frac = 0.5
        case 0 => "same line here\nsame line here\nsame line here\nother line"
        // 4 symbols over 8 words → symbol_ratio = 0.5
        case 1 => "buy now ### cheap deals ... click here"
        case _ => s"plain caption number $i with words a$i b$i c$i d$i e$i"
      }
      (f"img_$i%010d", cap, 457840.0 + i * 0.01, 5439081.0)
    }.toDF("image_id", "caption", "x", "y")
    val curated = Pipeline.curate(rows,
      maxDupLineFrac = Some(0.3), maxSymbolRatio = Some(0.2))
      .select("image_id").as[String].collect().toSet
    assert(!curated.contains(f"img_${0L}%010d"), "dup-line gate must drop the boilerplate doc")
    assert(!curated.contains(f"img_${1L}%010d"), "symbol-ratio gate must drop the spammy doc")
    assert((2L until 20L).forall(i => curated.contains(f"img_$i%010d")),
      "clean rows must survive the gopher gates")
    // gates off: both flagged rows survive
    val plain = Pipeline.curate(rows).select("image_id").as[String].collect()
    assert(plain.length === 20)
  }

  test("c4 gates: line filter rewrites captions, page rules drop flagged docs") {
    // per-row tokens dominate (a$i...) so the near-dup stage never glues
    // the fixtures (the gopher-gate lesson); every caption ends in '.' so
    // the C4 line filter keeps clean lines
    val rows = (0L until 16L).map { i =>
      val cap = i match {
        // junk lines interleaved with one clean 3-sentence line → the
        // rewrite keeps it and the page rule (which sees the REWRITTEN
        // text) still counts 3 sentences
        case 0 => "ok a0 b0 c0. d0 e0 stays right here. f0 g0 h0 ends well.\ntiny.\nuses javascript here today.\nno terminal punct"
        // lorem-ipsum page → dropped whole by the page rule
        case 1 => "x1 a1 b1 c1. d1 e1 f1 g1. lorem ipsum h1 i1."
        // curly-brace page → dropped whole
        case 2 => "x2 a2 b2 c2. d2 e2 f2 g2. j2 { k2 l2."
        // one sentence only → dropped by the min-sentence rule
        case 3 => "x3 a3 b3 c3 d3 e3 f3 g3 h3."
        case _ => s"plain caption $i with words. a$i b$i c$i. d$i e$i f$i."
      }
      (f"img_$i%010d", cap, 457840.0 + i * 0.01, 5439081.0)
    }.toDF("image_id", "caption", "x", "y")
    val curated = Pipeline.curate(rows, c4MinWords = Some(3), c4PageRules = true)
      .select("image_id", "caption").as[(String, String)].collect().toMap
    assert(!curated.contains(f"img_${1L}%010d"), "lorem-ipsum page must drop")
    assert(!curated.contains(f"img_${2L}%010d"), "curly-brace page must drop")
    assert(!curated.contains(f"img_${3L}%010d"), "one-sentence page must drop")
    assert(curated(f"img_${0L}%010d") === "ok a0 b0 c0. d0 e0 stays right here. f0 g0 h0 ends well.",
      "line filter must keep exactly the clean line")
    assert((4L until 16L).forall(i => curated.contains(f"img_$i%010d")),
      "clean rows survive the C4 stack")
    // gates off: everything survives untouched
    assert(Pipeline.curate(rows).count() === 16)
  }

  test("curate rewrite stages: span + paragraph dedup strip cross-doc boilerplate pre-clustering") {
    val footer = "the standard license footer text of this archive applies to every mirrored"
    val rows = (0L until 12L).map { i =>
      (f"img_$i%010d", s"u${i}a u${i}b u${i}c u${i}d $footer",
        457840.0 + i * 0.01, 5439081.0)
    }.toDF("image_id", "caption", "x", "y")
    // without the rewrite: the 12-token footer is 12 of 16 distinct tokens →
    // every pair sits at Jaccard 0.6 ≥ 0.5 → ONE cluster, one survivor:
    // boilerplate glues unrelated docs together
    val plain = Pipeline.curate(rows).select("image_id").as[String].collect()
    assert(plain.length === 1, "shared footer must glue all docs into one cluster")
    // with span dedup (k=8): the footer survives only in its first
    // occurrence (img_0); docs become token-disjoint → all 12 survive and
    // later docs' captions are footer-free
    val caps = Pipeline.curate(rows, spanDedupK = Some(8))
      .select("image_id", "caption").as[(String, String)].collect().toMap
    assert(caps.size === 12, "span dedup must un-glue the cluster")
    assert(caps(f"img_${0L}%010d").contains("license"), "first occurrence keeps the footer")
    assert((1L until 12L).forall(i => !caps(f"img_$i%010d").contains("license")),
      "every later occurrence loses the footer span")
    // paragraph variant: footer as its own line, same keeper semantics
    val rows2 = (0L until 12L).map { i =>
      (f"img_$i%010d", s"u${i}a u${i}b u${i}c u${i}d\n$footer",
        457840.0 + i * 0.01, 5439081.0)
    }.toDF("image_id", "caption", "x", "y")
    val caps2 = Pipeline.curate(rows2, paragraphDedup = true)
      .select("image_id", "caption").as[(String, String)].collect().toMap
    assert(caps2.size === 12)
    assert(caps2(f"img_${0L}%010d").contains("license"))
    assert((1L until 12L).forall(i => !caps2(f"img_$i%010d").contains("license")),
      "every later copy of the boilerplate line is removed")
  }

  test("multimodal curate: identical captions with far signatures stay separate") {
    val cap = (1 to 12).map(i => s"cap${i}tok").mkString(" ")
    val rows = Seq(
      ("img_a", cap, 0L),            // same caption, sig hamming 2 → dup of b
      ("img_b", cap, 3L),
      ("img_c", cap, 0xFFFFFL),      // same caption, sig far → distinct photo
      ("img_d", "other caption entirely distinct tokens here", 0L)
    ).toDF("image_id", "caption", "phash")
    // caption-only curation merges all three same-caption rows
    val plain = Pipeline.curate(rows).collect().map(_.getString(0)).toSet
    assert(plain.size === 2, s"caption-only must merge a/b/c: $plain")
    // signature-verified curation keeps the far-signature photo
    val multi = Pipeline.curate(rows, sigCol = Some("phash"))
      .collect().map(_.getString(0)).toSet
    assert(multi.size === 3 && multi.contains("img_c") && multi.contains("img_d"),
      s"far-signature photo must survive: $multi")
  }

  test("calibrated keeper: a cross-source cluster picks the per-source-best doc") {
    import org.apache.spark.sql.functions._
    def uniq(i: Int, n: Int) = (1 to n).map(j => s"u${i}x$j").mkString(" ")
    // rich source: long high-quality docs; its WORST doc (mdoc) pairs with
    // poor source's BEST doc (ddoc, a near-dup prefix of mdoc). Raw quality
    // favors mdoc (longer); per-source calibration favors ddoc (top of its
    // source vs bottom of its source)
    val rich = (1 to 10).map(i => (s"r$i", uniq(i, 55), "rich"))
    val mText = (1 to 20).map(j => s"mmw$j").mkString(" ")
    val dText = (1 to 17).map(j => s"mmw$j").mkString(" ")
    val poor = (1 to 10).map(i => (s"p$i", s"junk junk junk junk j$i", "poor"))
    val df = ((rich :+ (("mdoc", mText, "rich"))) ++
      (poor :+ (("ddoc", dText, "poor")))).toDF("image_id", "caption", "source")
    val q = df.select(col("image_id"),
        graft.functions.TextFunctions.qualityColumns(col("caption")).last.as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q("mdoc") > q("ddoc"), "fixture guard: raw quality must favor mdoc")
    val raw = Pipeline.curate(df).collect().map(_.getString(0)).toSet
    assert(raw.contains("mdoc") && !raw.contains("ddoc"),
      s"raw keeper = higher raw score: $raw")
    val cal = Pipeline.curate(df, calibrateSrcCol = Some("source"))
      .collect().map(_.getString(0)).toSet
    assert(cal.contains("ddoc") && !cal.contains("mdoc"),
      s"calibrated keeper = per-source top: $cal")
  }

  test("normalizeForDedup: accented mirror clusters with its original only when on") {
    // one doc plus a mirrored copy differing ONLY by Latin accents and
    // whitespace runs (every token carries an accent → raw shingle sets are
    // disjoint), plus an unrelated doc
    val base = (1 to 12).map(i => s"tok${i}word").mkString(" ")
    val accented = (1 to 12).map(i => s"tök${i}wörd").mkString("  ")
    val other = (1 to 12).map(i => s"zz${i}q").mkString(" ")
    val rows = Seq(("img_a", base), ("img_b", accented), ("img_c", other))
      .toDF("image_id", "caption")
    val off = Pipeline.curate(rows).collect().map(_.getString(0)).toSet
    assert(off === Set("img_a", "img_b", "img_c"),
      "raw signatures share no shingles — all three must survive")
    val on = Pipeline.curate(rows, normalizeForDedup = true)
      .collect().map(_.getString(0)).toSet
    assert(on.size === 2 && on.contains("img_c") &&
      (on - "img_c").subsetOf(Set("img_a", "img_b")),
      s"normalized signatures must collapse the mirror pair to one keeper: $on")
    // the surviving text is the RAW caption, not the normalized rewrite
    val kept = Pipeline.curate(rows, normalizeForDedup = true)
      .select("caption").as[String].collect().toSet
    assert(kept.subsetOf(Set(base, accented, other)),
      "output text must stay raw — normalization is signature-only")
  }

  test("curated pipeline end to end: resumable, duplicates dropped, split byte-stable") {
    val table = java.nio.file.Files.createTempDirectory("pipe_cur_out").toString + "/cur"
    val images = spark.read.parquet(curatedImagesDir)
    // "crash" after half the buckets
    val half = Pipeline.enrich(Pipeline.curate(images), polys, keepCols = Seq("split"))
      .where(col("bucket") < 8)
    IceLite.writeResumable(half, table, "bucket")
    val (w, s, ok) = Pipeline.run(spark, curatedImagesDir, polys, table, curate = true)
    assert(s === 8 && w === 8 && ok === 16, s"w=$w s=$s ok=$ok")
    val resumed = IceLite.read(spark, table)
    // only keepers survive into the enriched table
    val survivors = resumed.select("image_id").as[String].collect()
    assert(survivors.nonEmpty)
    assert(survivors.forall(id => id.drop(4).toLong % 3 == 0),
      "a non-keeper duplicate leaked through the curated pipeline")
    // byte-stable (incl. the split column) vs a fresh single-shot run
    val fresh = Pipeline.enrich(Pipeline.curate(images), polys, keepCols = Seq("split"))
    def chk(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
        .head().get(0).toString
    assert(resumed.count() === fresh.count())
    assert(chk(resumed) === chk(fresh), "curated resume must be byte-stable vs single-shot")
  }

  test("pipeline is resumable: crash after a prefix, rerun completes, audit green, byte-stable") {
    val table = java.nio.file.Files.createTempDirectory("pipe_out").toString + "/enriched"
    val images = spark.read.parquet(imagesDir)
    // "crash": first run sees only half the buckets' rows
    val half = Pipeline.enrich(images, polys).where(col("bucket") < 8)
    IceLite.writeResumable(half, table, "bucket")
    val snap1 = IceLite.currentSnapshot(table)
    assert(snap1.partitions.size === 8)
    // rerun end to end: committed buckets skipped, rest written
    val (w, s, ok) = Pipeline.run(spark, imagesDir, polys, table)
    assert(s === 8 && w === 8 && ok === 16, s"w=$w s=$s ok=$ok")
    // full content equals a fresh single-shot run (byte-stable resume)
    val resumed = IceLite.read(spark, table)
    val fresh = Pipeline.enrich(images, polys)
    assert(resumed.count() === fresh.count())
    def chk(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
        .head().get(0).toString
    assert(chk(resumed) === chk(fresh), "resume must be byte-stable vs single-shot")
  }
}
