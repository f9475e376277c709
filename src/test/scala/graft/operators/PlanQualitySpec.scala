package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/**
 * Plan-quality gates: the 100 TB design claims (pushdown, pruning, broadcast,
 * codegen, no stray shuffles) asserted on actual physical plans — so a
 * regression that silently defeats the optimizer fails CI, not production.
 */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("persisted co-partitioned static side joins with no new exchange") {
    // the load-bearing mechanism behind the iterative operators' layout
    // reuse (connectedComponents / bfsWithPred / ringJoin): a PERSISTED
    // repartition(col) advertises its hash layout through InMemoryRelation,
    // so the per-round equi-join adds an Exchange only on the small evolving
    // side. A localCheckpoint does NOT carry this under AQE (its LogicalRDD
    // reports unknown partitioning and the static side re-exchanges every
    // round) — measured, and pinned by the negative assertion below so a
    // Spark upgrade changing either behavior fails loudly here instead of
    // silently shifting the operators' scale shape.
    val evolving = spark.range(200).select((col("id") % 500).as("k"), lit(1).as("state"))
    def finalExchanges(static: org.apache.spark.sql.DataFrame): Int = {
      val j = static.join(evolving, Seq("k"))
      j.collect()
      j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    }
    val base = spark.range(10000).select((col("id") % 500).as("k"), col("id").as("payload"))
    // broadcast off: the join must pick a distribution-requiring strategy,
    // else broadcast hides the exchange question entirely
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val persisted = base.repartition(col("k")).persist()
      try assert(finalExchanges(persisted) == 1,
        "persisted repartition(k) must satisfy the join distribution (evolving-side exchange only)")
      finally persisted.unpersist(blocking = false)
      assert(finalExchanges(base.repartition(col("k")).localCheckpoint(true)) == 2,
        "localCheckpoint under AQE drops partitioning today — if this starts " +
          "passing with 1 exchange, the operators can drop their persist() step")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("heavy-hitter top-k is TakeOrdered, never a global sort") {
    // q44's orderBy(cnt desc, ngram).limit(50) must plan as
    // TakeOrderedAndProject (per-partition bounded top-k + merge); a global
    // Sort before the limit would shuffle-sort every distinct ngram
    val q = graft.SparkEntry.queries("q44_ngram_topk")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort ")),
      s"global sort should not appear:\n$plan")
  }

  test("filter + projection reach the parquet scan (PushedFilters, ReadSchema)") {
    val q = graft.SparkEntry.queries("q2_filter_project")(spark, sf)
    q.collect()
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull"), s"filters not pushed:\n$scan")
    assert(scan.contains("LessThan(l_shipdate") || scan.contains("GreaterThan(l_quantity"),
      s"predicate not pushed:\n$scan")
    // column pruning: only the 4 referenced columns, not all 11
    val readSchema = scan.substring(scan.indexOf("ReadSchema"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_returnflag"),
      s"scan reads unneeded columns:\n$readSchema")
  }

  test("dimension join broadcasts (no shuffle of the fact side)") {
    val q = graft.SparkEntry.queries("q3_join_broadcast")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"fact side must not sort-merge:\n$plan")
  }

  test("codegen expr PIP path: no join operator, single scan, codegen span") {
    val dir = "target/tmp/plan_pts"
    (0 until 1000).map(i => (s"p$i", 457842.0 + i % 12, 5439083.0 + i % 10))
      .toDF("image_id", "x", "y").write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val q = PipJoin.auto(pts, benchPolys)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expr path must be join-free:\n$plan")
    assert(plan.contains("pip_matches"), plan)
    assert(plan.count(_ == '*') >= 1, s"expected a codegen span:\n$plan")
  }

  private lazy val benchPolys = graft.Bench.benchPolygons

  test("full image+caption table: PIP join scan prunes to (image_id, x, y)") {
    // input_hint schema has a binary payload column; the join must never
    // read it — at 100 TB the payload IS the table, the join keys are ~1%
    val dir = "target/tmp/plan_full_imgs"
    graft.sources.ImageGen.table(spark, 500, 4).write.mode("overwrite").parquet(dir)
    val q = PipJoin.auto(spark.read.parquet(dir), benchPolys)
      .select("image_id", "feature_id")
    q.collect()
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    val readSchema = scan.substring(scan.indexOf("ReadSchema"))
    assert(readSchema.contains("image_id") && readSchema.contains("x:double"),
      s"join keys missing from scan:\n$readSchema")
    assert(!readSchema.contains("bytes") && !readSchema.contains("caption") &&
      !readSchema.contains("phash"),
      s"payload columns must be pruned from the scan:\n$readSchema")
  }

  test("curated pipeline: scans prune to (id, caption|x,y) — bytes never read") {
    // the curation stage needs (image_id, caption); enrichment needs
    // (image_id, x, y [, split]); the multi-MB binary payload must reach
    // NEITHER scan — at 100 TB the payload is the table
    val dir = "target/tmp/plan_cur_imgs"
    graft.sources.ImageGen.table(spark, 500, 4).write.mode("overwrite").parquet(dir)
    val images = spark.read.parquet(dir)
    val q = graft.app.Pipeline.enrich(
      graft.app.Pipeline.curate(images), benchPolys, keepCols = Seq("split"))
    q.collect()
    val scans = q.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      val readSchema = scan.substring(scan.indexOf("ReadSchema"))
      assert(!readSchema.contains("bytes") && !readSchema.contains("phash"),
        s"payload columns must be pruned from every curated-pipeline scan:\n$readSchema")
    }
  }

  test("codegen kNN path: no join, no shuffle, knn_matches in a codegen span") {
    val dir = "target/tmp/plan_knn_pts"
    (0 until 1000).map(i => (s"p$i", 457842.0 + i % 12, 5439083.0 + i % 10))
      .toDF("probe_id", "x", "y").write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val centroids = benchPolys.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    val q = KnnJoin.broadcastGrid(pts, centroids, k = 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"knn expr path must be join-free:\n$plan")
    assert(!plan.contains("Exchange"), s"knn expr path must be shuffle-free:\n$plan")
    assert(plan.contains("knn_matches"), plan)
    assert(plan.count(_ == '*') >= 1, s"expected a codegen span:\n$plan")
  }

  test("bucketed tables co-locate the cell-key join (no shuffle exchange)") {
    // the 100 TB layout: both sides bucketed by the cell key at write time ->
    // the join needs no Exchange at read time
    spark.sql("DROP TABLE IF EXISTS pts_bucketed")
    spark.sql("DROP TABLE IF EXISTS cells_bucketed")
    // in-memory catalog forgets tables across JVMs but the warehouse dirs stay
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("pts_bucketed", "cells_bucketed").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    val cell = graft.functions.GeoFunctions.hex_encode(col("x"), col("y"), lit(11))
    val pts = (0L until 5000L).map { i =>
      val (x, y) = graft.sources.ImageGen.geotag(i); (f"i$i%06d", x, y)
    }.toDF("image_id", "x", "y").withColumn("cell", cell)
    pts.write.mode("overwrite").bucketBy(8, "cell").sortBy("cell")
      .saveAsTable("pts_bucketed")
    pts.groupBy("cell").count()
      .write.mode("overwrite").bucketBy(8, "cell").saveAsTable("cells_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val q = spark.table("pts_bucketed")
        .join(spark.table("cells_bucketed"), Seq("cell"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed SMJ must not shuffle either side:\n$plan")
      assert(q.count() === 5000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("TileAssign.auto: large feature-tile side takes the shuffle path, no broadcast") {
    val fps = graft.Bench.benchPolygons
    val zooms = Seq(18, 19, 20)
    val ptSeq = (0L until 2000L).map { i =>
      val (x, y) = graft.sources.ImageGen.geotag(i); (f"i$i%06d", x, y)
    }
    val pts = ptSeq.toDF("image_id", "x", "y")
    val ds = spark.createDataset(fps)
    // force the "feature pyramid exceeds the broadcast budget" branch
    val q = TileAssign.auto(pts, ds, zooms, broadcastLimit = 10)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"over-limit feature side must not broadcast:\n$plan")
    assert(plan.contains("SortMergeJoin"), plan)
    // row set identical to the brute-force feature-tile cover oracle
    val got = q.select("image_id", "feature_id", "zoom", "tile_id")
      .as[(String, String, Int, Long)].collect().toSet
    val cover = TileAssign.bruteForceFeatureTiles(fps, zooms).groupBy(t => (t._2, t._3))
    val want = (for {
      (id, x, y) <- ptSeq
      z <- zooms
      t = graft.core.Tiles.pack(graft.core.Tiles.tileOf(x, y, z))
      (fid, _, _) <- cover.getOrElse((z, t), Set.empty)
    } yield (id, fid, z, t)).toSet
    assert(got === want && want.nonEmpty)
  }

  test("tile top-k (q13) is a bounded aggregate — no Window, no per-tile Sort") {
    // "top-k images per tile" is the north-star tiling stage; the bounded
    // long_topk aggregate (topk_by with a constant score) ships 2-entry
    // buffers (map-side combine), where the row_number() window form (kept
    // as the DuckDB oracle twin) must shuffle + sort every point row
    val q = graft.SparkEntry.queries("q13_tile_topk")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q13 must not plan a Window:\n$plan")
    // match SortExec wherever it prints: bare ("Sort ["), under an operator
    // prefix ("+- Sort ["), or inside a codegen span ("*(2) Sort [")
    assert(!plan.linesIterator.exists(_.matches(""".*(\+- |\*\(\d+\) |^)Sort \[.*""")),
      s"q13 must not sort point rows:\n$plan")
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_topk_by"),
      s"q13 should partial-aggregate long_topk's topk_by buffers map-side:\n$plan")
  }

  test("keep-best-per-cluster (q37) and tfidf (g8) are bounded aggregates — no Window, no Sort") {
    // the last two row_number() windows on mandate paths, replaced by the
    // k-bounded topk_by aggregate (map-side combine; the (tf, df) payload
    // rides the buffer so tfidf needs no join-back against the full
    // (doc, term) table). The window forms live on as oracle twins.
    val noWindowNoSort = Seq(
      "q37" -> graft.SparkEntry.queries("q37_dedup_keep_best")(spark, sf),
      "g8" -> graft.functions.TextFunctions.tfidfTopTerms(
        spark.read.parquet(s"$sf/documents.parquet")))
    noWindowNoSort.foreach { case (name, q) =>
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("Window"), s"$name must not plan a Window:\n$plan")
      assert(!plan.linesIterator.exists(_.matches(""".*(\+- |\*\(\d+\) |^)Sort \[.*""")),
        s"$name must not sort candidate rows:\n$plan")
      assert(plan.contains("partial_topk_by"),
        s"$name should partial-aggregate topk_by buffers map-side:\n$plan")
    }
  }

  test("ANN ranking (q21, q23) is a bounded aggregate — no Window, no per-probe Sort") {
    // every ANN path (brute / LSH / IVF) ends in a per-probe (cos desc, id)
    // top-k; the bounded topk_by aggregate ships k-entry buffers (map-side
    // combine) where the window form (kept as the DuckDB oracle twin) would
    // shuffle + sort every scored candidate row — at 10^12 rows the scored
    // table is the query's largest intermediate
    val qs = Seq(
      "q21" -> graft.SparkEntry.queries("q21_ann_topk")(spark, sf),
      "q23" -> graft.SparkEntry.queries("q23_ann_ivf")(spark, sf))
    qs.foreach { case (name, q) =>
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("Window"), s"$name must not plan a Window:\n$plan")
      assert(!plan.linesIterator.exists(_.matches(""".*(\+- |\*\(\d+\) |^)Sort \[.*""")),
        s"$name must not sort scored candidate rows:\n$plan")
      assert(plan.contains("partial_topk_by"),
        s"$name should partial-aggregate topk_by buffers map-side:\n$plan")
    }
  }

  test("decontamination (q56) broadcasts the eval shingle set — no shuffle of training shingles") {
    // the eval corpus is small by definition; its distinct shingle set must
    // arrive as a BroadcastHashJoin build side, never force a sort-merge
    // exchange of the 10^12-row side's exploded shingles
    val q = graft.SparkEntry.queries("q56_decontaminate")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no SMJ of exploded shingles:\n$plan")
  }

  test("exact decontamination (q62): broadcast-only joins, substring verify rides a join condition") {
    // the passage set and the candidate set are small by construction — no
    // stage may sort-merge the training side; the instr() verify must be a
    // join condition (scan-side), not a post-shuffle filter over text rows
    val q = graft.SparkEntry.queries("q62_decontaminate_exact")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("SortMergeJoin"), s"q62 must not SMJ the training side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"q62 joins must broadcast:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("Join") && l.contains("instr(")),
      s"substring verify must ride a join condition:\n$plan")
  }

  test("paragraph dedup (q64): keeper via map-side-combined min(struct), no Window") {
    // the first-occurrence decision is an aggregate over 16-byte digests
    // (partial_min combines map-side); a window over the paragraph table
    // would shuffle AND sort every paragraph row
    val q = graft.SparkEntry.queries("q64_paragraph_dedup")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), s"q64 must not plan a Window:\n$plan")
    assert(plan.contains("partial_min(struct(doc_id"),
      s"keeper decision should partial-aggregate map-side:\n$plan")
    // the digest shuffle carries (doc_id, pos, h) only — never paragraph text
    val digestExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(h#"))
    assert(digestExchange, s"keeper decision must shuffle on the digest:\n$plan")
  }

  test("span dedup (q66): keeper on digests via partial_min, one-pass gram kernel, no Window") {
    // the duplicated-window decision must aggregate 16-byte digests with a
    // map-side-combined min(struct) — the window form (the DuckDB oracle
    // twin) would shuffle and sort every gram occurrence row; grams must
    // come from the one-pass codegen shingle kernel, not posexplode+lead
    val q = graft.SparkEntry.queries("q66_span_dedup")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), s"q66 must not plan a Window:\n$plan")
    assert(plan.contains("partial_min(struct(doc_id"),
      s"keeper decision should partial-aggregate map-side:\n$plan")
    assert(plan.contains("shingle_make"),
      s"grams must come from the one-pass codegen kernel:\n$plan")
    assert(plan.linesIterator.exists(_.contains("Exchange hashpartitioning(h#")),
      s"keeper decision must shuffle on the digest:\n$plan")
  }

  test("BM25 (g9): query terms broadcast, ranking is a bounded aggregate — no Window, no Sort") {
    // the corpus tf table is semi-filtered by the BROADCAST query-term set
    // (training tokens never shuffle for non-query terms), and the final
    // per-query ranking ships k-entry topk_by buffers — the row_number()
    // form would sort every scored (query, doc) row
    val q = graft.SparkEntry.queries("g9_bm25")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), s"g9 must not plan a Window:\n$plan")
    assert(!plan.linesIterator.exists(_.matches(""".*(\+- |\*\(\d+\) |^)Sort \[.*""")),
      s"g9 must not sort scored rows:\n$plan")
    assert(plan.contains("partial_topk_by"),
      s"g9 should partial-aggregate topk_by buffers map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term candidates must join via broadcast:\n$plan")
  }

  test("PQ ANN (g10): codegen encode/ADC kernels, broadcast LUTs, bounded shortlist") {
    // the scored pass reads (id, code) against BROADCAST per-probe ADC
    // tables (pq_adc is a plain codegen expression — no reference object,
    // no join per probe); the shortlist is the k-bounded topk_by aggregate
    val q = graft.SparkEntry.queries("g10_pq_ann")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), s"g10 must not plan a Window:\n$plan")
    assert(plan.contains("pq_encode") && plan.contains("pq_adc"),
      s"PQ must run through the codegen kernels:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"probe LUTs must broadcast to the codes scan:\n$plan")
    assert(plan.contains("partial_topk_by"),
      s"ADC shortlist should partial-aggregate map-side:\n$plan")
  }

  test("bloom pre-filter (q59) applies at the scan, before the join") {
    // bloom_contains must appear in a Filter below the join — survivors
    // only, never the full fact side, reach the exchange
    val q = graft.SparkEntry.queries("q59_bloom_semi")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val lines = plan.linesIterator.toVector
    val filterIdx = lines.indexWhere(l => l.contains("bloom_contains"))
    val joinIdx = lines.indexWhere(l => l.contains("Join"))
    assert(filterIdx >= 0, s"bloom_contains filter missing:\n$plan")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter must sit BELOW the join (deeper in the tree):\n$plan")
  }

  test("simhash (q20) is a codegen projection — no Encoder round-trip") {
    // the typed Dataset.map formulation forced DeserializeToObject/
    // SerializeFromObject into the stage, breaking whole-stage codegen and
    // column pruning; SimHashExpr must plan as a plain projection
    val q = graft.SparkEntry.queries("q20_simhash")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
      s"simhash must not round-trip through Encoders:\n$plan")
    // "*(n)" prefixes are the WholeStageCodegen markers in the compact form
    assert(plan.contains("*(1) Project"), s"simhash should live in a codegen span:\n$plan")
  }

  test("sessionize (q70): one entity-key shuffle, map-side partials, pruned scan") {
    // native session_window: partial per-event aggregation BEFORE the
    // exchange, sessions merged after ONE shuffle on user_id; the
    // within-partition Sort is semantic (order-dependent merge). The scan
    // must read only (ts, user_id) — props/value/event_type never leave
    // parquet
    val q = graft.SparkEntry.queries("q70_sessionize")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"sessionize must shuffle exactly once, on the entity key:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(user_id"),
      s"the one shuffle must key on user_id:\n$plan")
    assert(plan.contains("partial_min") && plan.contains("MergingSessions"),
      s"per-event partials must combine map-side before the session merge:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("ts") && read.contains("user_id") && !read.contains("props"),
      s"scan must prune to (ts, user_id):\n$read")
  }

  test("visit sequences (q86): scan-local PIP, one entity-key shuffle, collapse semantics") {
    val q = graft.SparkEntry.queries("q86_visit_sequences")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"visit segmentation must shuffle exactly once, on the entity key:\n$plan")
    assert(plan.contains("pip_matches"), s"PIP must be the codegen expr path:\n$plan")
    // collapse semantics: visit_idx is dense 1..n per user, and no user has
    // two consecutive visits to the same footprint
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val ordered = rs.sortBy(_.getInt(1))
      assert(ordered.map(_.getInt(1)).toSeq === (1 to rs.length),
        s"user $uid visit_idx must be dense")
      ordered.map(_.getString(2)).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a != b, s"user $uid has an uncollapsed run: $a")
        case _ =>
      }
    }
    assert(rows.nonEmpty)
  }

  test("visit dwell (q87): groupBy reuses the window's entity-key shuffle; q86 parity") {
    val q = graft.SparkEntry.queries("q87_visit_dwell")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the (user, visit) groupBy keys are a superset of the window's
    // partition key — Spark must NOT add a second shuffle for it
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"dwell aggregation must reuse the entity-key shuffle:\n$plan")
    // consistency with the visit SEGMENTATION view: same visit set per user
    val visits = graft.SparkEntry.queries("q86_visit_sequences")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet === visits,
      "q87 (user, visit_idx, feature) must equal q86's segmentation")
    // dwell sanity: start <= end, n_pings >= 1
    assert(rows.forall(r => r.getLong(3) >= 1L))
    assert(rows.forall(r => !r.getAs[java.time.LocalDateTime](4)
      .isAfter(r.getAs[java.time.LocalDateTime](5))))
  }

  test("track length (q80): one entity-key shuffle, pruned scan, codegen kernel, brute parity") {
    val q = graft.SparkEntry.queries("q80_track_length")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"trajectory assembly must shuffle exactly once, on the entity key:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(user_id"),
      s"the one shuffle must key on user_id:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("ts") && read.contains("user_id") && !read.contains("props"),
      s"scan must prune to (event_id, ts, user_id):\n$read")
    assert(plan.contains("st_path_length"), s"kernel must score the track:\n$plan")
    // brute-force parity: driver replay of one user's sorted track
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.time.LocalDateTime](2)))
    val uid = ev.head._2
    val pts = ev.filter(_._2 == uid)
      .sortBy(e => (e._3, e._1)).map { case (id, _, _) =>
      (457840.0 + ((id * 7919L) % 1600L).toDouble * 0.01,
        5439081.0 + ((id * 104729L) % 1400L).toDouble * 0.01)
    }
    val lens = pts.sliding(2).collect { case Array((x1, y1), (x2, y2)) =>
      math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
    }.toArray.sorted
    val want = lens.foldLeft(0.0)(_ + _)
    val got = rows.find(_.getLong(0) == uid).get.getDouble(2)
    assert(got === want, s"user $uid: kernel=$got brute=$want")
  }

  test("LM coverage (q74): top-k ref set broadcasts, doc grams never shuffle for the join") {
    // the reference top set is k rows BY CONSTRUCTION → its join against
    // the exploded doc grams must be a BroadcastHashJoin (an SMJ would
    // shuffle the 10^12-row side's grams); the global top-k must be the
    // bounded aggregate, not a sort
    val q = graft.SparkEntry.queries("q74_lm_coverage")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"ref top-k set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"doc grams must never sort-merge:\n$plan")
    assert(plan.contains("partial_topk_by"),
      s"global top-k must be the bounded aggregate:\n$plan")
    assert(!plan.contains("Window"), s"no Window anywhere in q74:\n$plan")
  }

  test("C4 rule pack (q69) is one codegen projection — no shuffle, no Encoder round-trip") {
    // the whole C4 stack (line filter + counts + page flags) must plan as a
    // single scan-local projection over the parquet scan: ONE pass of the
    // c4_clean kernel inside whole-stage codegen, zero Exchanges — at 10^12
    // docs this stage must cost exactly one read of the corpus
    val q = graft.SparkEntry.queries("q69_c4_rules")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"C4 pack must be scan-local:\n$plan")
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
      s"C4 pack must not round-trip through Encoders:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("c4_clean") && l.contains("*(")),
      s"c4_clean must sit in a codegen span:\n$plan")
    // the projection references the kernel once per extracted field; inside
    // the codegen span subexpression elimination evaluates it ONCE per row —
    // that only holds while the conf stays at its default
    assert(spark.conf.get("spark.sql.subexpressionElimination.enabled") == "true",
      "struct-field fan-out relies on codegen subexpression elimination")
  }

  test("norm_text (q76) is one codegen projection — no shuffle, no Encoder round-trip") {
    // normalization runs once per document before any signature stage; at
    // 10^12 docs it must price as part of the scan, not as its own pass
    val q = graft.SparkEntry.queries("q76_norm_text")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"norm_text must be scan-local:\n$plan")
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
      s"norm_text must not round-trip through Encoders:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("norm_text") && l.contains("*(")),
      s"norm_text must sit in a codegen span:\n$plan")
  }

  test("tile weights (q77): fractions partition each envelope, scan-local plan, cover parity") {
    val q = graft.SparkEntry.queries("q77_tile_weights")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"tile weighting must be scan-local:\n$plan")
    // the weights of one envelope's tiles partition its area exactly
    // (clip widths are exact; only the per-tile divisions round)
    rows.groupBy(_.getAs[Number](0).longValue).foreach { case (rid, rs) =>
      val s0 = rs.map(_.getDouble(2)).sum
      assert(math.abs(s0 - 1.0) < 1e-12, s"rid $rid weights sum to $s0")
    }
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // weighting keeps exactly the boolean cover's (rid, tile) set — it adds
    // the weight column, it never adds or drops an assignment
    val cover = graft.SparkEntry.queries("q46_tile_cover")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toSet
    assert(rows.map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toSet === cover)
  }

  test("setback distance (q91): map-only index kernel, no exchange, sanity") {
    val q = graft.SparkEntry.queries("q91_setback")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("setback_nearest"),
      s"the 100 rings must ride the plan as the setback index:\n$plan")
    assert(!plan.contains("Exchange"), s"the index path is one map-only projection:\n$plan")
    assert(!plan.contains("NestedLoopJoin"), s"no point x ring expansion:\n$plan")
    // sanity: one row per event; distance 0 only ON a boundary; nearest is
    // a real footprint id; interior/exterior both occur on this fixture
    val n = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.length.toLong === n)
    assert(rows.forall(_.getString(3).startsWith("b")))
    val dists = rows.map(_.getDouble(2))
    assert(dists.forall(_ >= 0.0) && dists.max > 0.3,
      "far-from-any-footprint points must exist")
  }

  test("tile top contributors (q89): bounded topk_by aggregate — no Window, no Sort") {
    val q = graft.SparkEntry.queries("q89_tile_top_contrib")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Window"), s"per-tile rank must not be a Window:\n$plan")
    assert(plan.contains("partial_topk_by"),
      s"per-tile top-k must map-side combine:\n$plan")
    assert(rows.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 3))
    // each tile's entries are (frac desc, rid asc)-ordered and distinct rids
    rows.groupBy(_.getLong(0)).foreach { case (tid, rs) =>
      val ordered = rs.sortBy(_.getInt(1)).map(r => (r.getDouble(3), r.getLong(2)))
      assert(ordered.toSeq.sortBy(e => (-e._1, e._2)) === ordered.toSeq, s"tile $tid order")
      assert(ordered.map(_._2).distinct.length === ordered.length)
    }
  }

  test("ring audit (q78) is scan-local and classifies orientation per variant") {
    val q = graft.SparkEntry.queries("q78_ring_audit")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"geometry QA must be scan-local:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("st_signed_area") && l.contains("*(")),
      s"st_signed_area must sit in a codegen span:\n$plan")
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getString(4), r.getBoolean(5), r.getBoolean(2)))).toMap
    byId.foreach { case (id, (orient, valid, closed)) =>
      (id % 4) match {
        case 0 => assert(orient == "ccw" && valid && !closed, s"id $id")
        case 1 => assert(orient == "cw" && valid && !closed, s"id $id")
        case 2 => assert(orient == "degenerate" && !valid, s"id $id")
        case _ => assert(orient == "ccw" && valid && closed, s"id $id")
      }
    }
  }

  test("tile hotspots (q84): points scanned once (reused exchange), analytics on tile table") {
    val q = graft.SparkEntry.queries("q84_tile_hotspots")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the per-tile count aggregate feeds THREE consumers (neighbor sums,
    // the join, the global stats); the shuffle subtree must be computed
    // once and reused, not re-scanned per consumer — at 10^12 points a
    // missing reuse triples the corpus read
    val scans = plan.linesIterator.count(l => l.contains("Scan parquet") ||
      l.contains("FileScan parquet"))
    assert(scans == 1, s"events must be scanned exactly once (got $scans):\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the tile-count exchange must be reused across consumers:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row global-stats join must broadcast:\n$plan")
    // semantics: counts conserve mass; z standardizes (mean ≈ 0 over tiles)
    val rows = q.collect()
    assert(rows.map(_.getLong(1)).sum === spark.read.parquet(s"$sf/events.parquet").count())
    val zMean = rows.map(_.getDouble(3)).sum / rows.length
    assert(math.abs(zMean) < 1e-9, s"z-scores must center at 0: $zMean")
    // each neighborhood sum >= own count (the 0,0 offset includes self)
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  test("tile pyramid (q98): points scanned once, levels derived by id arithmetic; mass conserved") {
    val q = graft.SparkEntry.queries("q98_tile_pyramid")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scans = plan.linesIterator.count(l => l.contains("Scan parquet") ||
      l.contains("FileScan parquet"))
    assert(scans == 1, s"the points must be scanned once, at the base zoom:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 2,
      s"base count + level re-aggregate are the only shuffles:\n$plan")
    val rows = q.as[(Int, Long, Long)].collect()
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    val perLevel = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perLevel === Map(0 -> total, 1 -> total, 2 -> total, 3 -> total),
      "every pyramid level must conserve the point mass")
    // coarser levels have no more tiles than finer ones
    val tilesPer = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert((0 to 2).forall(l => tilesPer(l) >= tilesPer(l + 1)))
    // each level's ids decode to that zoom
    assert(rows.forall { case (l, tid, _) => (tid >>> 58).toInt == 26 - l })
  }

  test("OD flows (q97): trips == visits minus one per active user") {
    val flows = graft.SparkEntry.queries("q97_od_flows")(spark, sf)
      .as[(String, String, Long)].collect()
    val visits = graft.SparkEntry.queries("q86_visit_sequences")(spark, sf)
      .select("user_id").as[Long].collect()
    val expected = visits.groupBy(identity).values.map(_.length - 1L).sum
    assert(flows.map(_._3).sum === expected,
      "every consecutive visit pair is exactly one trip")
    assert(flows.nonEmpty && flows.forall(_._3 > 0))
  }

  test("KDE heatmap (q96): one cell-key shuffle; density == hand fold; partition-invariant") {
    val q = graft.SparkEntry.queries("q96_kde_heatmap")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the 9-way neighborhood explode and the kernel filter are scan-local;
    // the ONLY wide op is the per-cell aggregation
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"KDE must shuffle once, on the cell key:\n$plan")
    val rows = q.as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // hand oracle on the same fixture: brute-force all (point, cell) terms
    val pts = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id")).as[Long].collect()
      .map { id =>
        (457840.0 + ((id * 7919) % 1600).toDouble * 0.01,
          5439081.0 + ((id * 104729) % 1400).toDouble * 0.01)
      }
    val want = pts.flatMap { case (x, y) =>
      val px = math.floor((x - 457840.0) / 1.6).toLong
      val py = math.floor((y - 5439081.0) / 1.6).toLong
      for (dx <- -1L to 1L; dy <- -1L to 1L) yield {
        val cx = px + dx; val cy = py + dy
        val ex = x - (457840.0 + (cx.toDouble + 0.5) * 1.6)
        val ey = y - (5439081.0 + (cy.toDouble + 0.5) * 1.6)
        ((cx, cy), ex * ex + ey * ey)
      }
    }.filter(_._2 < 2.56).groupBy(_._1)
      .map { case (c, ts) =>
        (c, ts.length.toLong, ts.map(t => 1.0 - t._2 / 2.56).sorted.sum)
      }.toSet
    assert(rows.map(r => ((r._1, r._2), r._3, r._4)).toSet === want,
      "density surface must equal the ascending-fold hand oracle bit-exactly")
    // partitioning must not move the fold result (sorted-fold contract)
    val re = graft.operators.Hotspots.kdeGrid(
      spark.read.parquet(s"$sf/events.parquet")
        .select(col("event_id"),
          (lit(457840.0) + ((col("event_id") * 7919L) % 1600L).cast("double") * 0.01).as("x"),
          (lit(5439081.0) + ((col("event_id") * 104729L) % 1400L).cast("double") * 0.01).as("y"))
        .repartition(13), 457840.0, 5439081.0, 1.6, 2.56)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(re === rows.toSet)
  }

  test("simplify (q81): scan-local codegen walk; kernel semantics on edge cases") {
    val q = graft.SparkEntry.queries("q81_simplify")(spark, sf)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"thinning must be scan-local:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("st_simplify_idx") && l.contains("*(")),
      s"st_simplify_idx must sit in a codegen span:\n$plan")
    // thinning must actually bite on narrow rings and keep vertex 0 always
    // (q81 projects the kept indices as (n_kept, "i,i,..." string) so the
    // driver's row-sorting comparer can hash them)
    val sizes = rows.map(_.getInt(1)).toSet
    assert(sizes.contains(6) && sizes.exists(_ < 6), s"eps must bite selectively: $sizes")
    assert(rows.forall(_.getString(2).startsWith("0")), "vertex 0 is always kept")
    assert(rows.forall(r => r.getString(2).split(",").length == r.getInt(1)),
      "n_kept must count the projected index string")
    // direct kernel edge cases via SQL registration
    graft.functions.GeoFunctions.register(spark)
    val edge = spark.sql(
      """SELECT st_simplify_idx(array(0.0d), array(0.0d), 1.0d) AS one,
                st_simplify_idx(CAST(array() AS ARRAY<DOUBLE>),
                                CAST(array() AS ARRAY<DOUBLE>), 1.0d) AS empty,
                st_simplify_idx(array(0.0d, 0.25d, 0.5d, 2.0d),
                                array(0.0d, 0.0d, 0.0d, 0.0d), 1.0d) AS walk""").head()
    assert(edge.getSeq[Int](0) === Seq(0))
    assert(edge.getSeq[Int](1) === Seq.empty)
    // 0.25 and 0.5 are within eps of vertex 0; 2.0 is the next keeper
    assert(edge.getSeq[Int](2) === Seq(0, 3))
  }

  test("tile_clip_frac: boundary-touch tile weighs zero; degenerate envelope weighs zero") {
    import org.apache.spark.sql.functions._
    // maxx = 64 sits ON the z=20 tile boundary (32 m tiles): the touching
    // third tile is covered (reference bbox semantics) but must weigh 0
    def env = struct(lit(10.0).as("minx"), lit(8.0).as("miny"), lit(0.0).as("minz"),
      lit(64.0).as("maxx"), lit(24.0).as("maxy"), lit(0.0).as("maxz"))
    val m = spark.range(1)
      .select(explode(graft.functions.GeoFunctions.tile_cover(env, lit(20))).as("tile_id"))
      .select(col("tile_id"),
        graft.functions.GeoFunctions.tile_clip_frac(col("tile_id"), env, 20).as("frac"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size === 3, s"expected 3 covered x-tiles: $m")
    assert(m.values.count(_ == 0.0) === 1, s"exactly the touch-only tile weighs 0: $m")
    assert(math.abs(m.values.sum - 1.0) < 1e-12)
    // zero-area envelope: every weight is 0.0, never NaN/Infinity
    def deg = struct(lit(5.0).as("minx"), lit(8.0).as("miny"), lit(0.0).as("minz"),
      lit(5.0).as("maxx"), lit(24.0).as("maxy"), lit(0.0).as("maxz"))
    val dm = spark.range(1)
      .select(explode(graft.functions.GeoFunctions.tile_cover(deg, lit(20))).as("tile_id"))
      .select(graft.functions.GeoFunctions.tile_clip_frac(col("tile_id"), deg, 20).as("frac"))
      .collect().map(_.getDouble(0))
    assert(dm.nonEmpty && dm.forall(_ == 0.0))
  }

  test("IVF assignment is a codegen projection (no Encoder round-trip, no join)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = e.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val q = AnnSearch.ivfFixedTopK(e, probes, k = 5, nlist = 16, nprobe = 4)
    q.collect()
    // AQE prints final + initial plans; assert on the final section only
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // table side: ivf_assign inside a whole-stage-codegen Project straight
    // over the scan (the 10^12-row pass)
    assert(plan.linesIterator.exists(l => l.contains("ivf_assign") && l.contains("*(")),
      s"ivf_assign must sit in a codegen span:\n$plan")
    // the only Encoder round-trip left is the bounded PROBE side (nprobe
    // expansion) — the table side must have none
    assert(plan.linesIterator.count(_.contains("DeserializeToObject")) <= 1,
      s"table-side IVF assignment must not round-trip through Encoders:\n$plan")
  }

  test("salted join splits the hot cell key across salts (skew mitigation)") {
    // 60%-skewed points: the unsalted cell key would put ~60% of rows in one
    // reducer group; salting spreads them over `salts` buckets
    val pts = (0L until 4000L).map { i =>
      val (x, y) = graft.sources.ImageGen.geotag(i); (f"i$i%06d", x, y)
    }.toDF("image_id", "x", "y")
    val cell = graft.functions.GeoFunctions.hex_encode(col("x"), col("y"), lit(11))
    val unsaltedMax = pts.groupBy(cell.as("c")).count().agg(max("count")).head().getLong(0)
    val saltedMax = pts
      .withColumn("salt", pmod(hash(col("x"), col("y")), lit(8)))
      .groupBy(cell.as("c"), col("salt")).count().agg(max("count")).head().getLong(0)
    assert(unsaltedMax > 2000, s"fixture should be skewed, max=$unsaltedMax")
    assert(saltedMax < unsaltedMax / 4, s"salting must split the hot key: $saltedMax vs $unsaltedMax")
  }
}
