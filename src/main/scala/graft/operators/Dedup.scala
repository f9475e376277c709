package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Hashing

/**
 * Deduplication operators for large-scale training-data pipelines.
 * All hot paths are built-in Catalyst functions (codegen'd, no Scala UDFs on
 * the scan side); candidate generation is LSH-style banding so the shuffle is
 * an equi-join on band keys — never an all-pairs cross join.
 */
object Dedup {

  /** Exact dedup: content hash → keeper (min id) + copy count. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.withColumn("content_hash", md5(col(textCol).cast("binary")))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Whitespace word tokens (lowercased). */
  def tokens(textCol: Column): Column = split(lower(textCol), " ")

  /** Sliding word n-grams (shingles) as an array column — pure built-ins. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array())
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))

  /** doc_id + MinHash signature (one row per doc): per permutation p, the
    * minimum over the doc's word `ngram` shingles of hex chars
    * (p-1)*8+1..p*8 of md5(shingle), as columns m1..m`perms` — read off the
    * one-pass [[org.apache.spark.sql.graft.Md5MinHashKernel]]. The hex-string
    * order statistic keeps the operator expressible in ANSI SQL
    * (DuckDB-oracle-checkable, q18) with the collision semantics of integer
    * MinHash. A doc with no shingle (fewer than `ngram` tokens) or a null
    * doc gets null columns: `get` returns null past the kernel's empty
    * array, where a bare index would throw under ANSI. */
  def minhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              perms: Int = 4, ngram: Int = 3): DataFrame = {
    val sig = org.apache.spark.sql.graft.TextFunctionsImpl.md5_minhash_sig(
      col(textCol), lit(ngram), lit(perms))
    docs.select(col(idCol) +: (1 to perms).map(p => get(sig, lit(p - 1)).as(s"m$p")): _*)
  }

  /**
   * LSH candidate pairs: docs sharing ANY signature band (band size 1 here:
   * each permutation is a bucket key), verified with exact n-gram Jaccard.
   * Shuffle shape: explode(perms) → groupBy bucket self-join → distinct pairs.
   */
  def lshPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
               perms: Int = 4, ngram: Int = 3, minJaccard: Double = 0.5,
               maxBucket: Int = 100): DataFrame = {
    require(perms >= 1 && perms <= 4,
      s"perms must be 1..4 (a 32-hex md5 digest yields 4 8-char slices; got $perms)")
    // 1) narrow band join on ids only (token arrays would bloat the shuffle
    //    and the distinct), 2) dedup candidate id pairs, 3) re-attach token
    //    sets with two broadcast-friendly joins, 4) exact-Jaccard verify.
    // Buckets larger than `maxBucket` are dropped from candidate generation —
    // a shared min-shingle that frequent carries no signal, and an uncapped
    // mega-bucket is an O(bucket²) pair explosion (standard LSH practice;
    // the DuckDB oracle applies the identical cap, so row parity holds).
    val toks = tokenSets(docs, idCol, textCol)
    jaccardVerify(bandCandidates(
      md5SliceBuckets(docs, idCol, textCol, perms, ngram), maxBucket), toks, minJaccard)
  }

  /** The md5-slice minhash band buckets shared by [[lshPairs]] and
    * [[containmentPairs]]: the one-pass codegen kernel
    * [[org.apache.spark.sql.graft.Md5MinHashKernel]] computes all `perms`
    * per-band minima inside the row loop (one digest per shingle, minima
    * tracked as unsigned ints), so the signature never leaves the scan
    * stage — the previous relational form exploded every shingle ×perms
    * and paid an (id, band) hash-aggregate exchange to rebuild the same
    * minima (guide §2.4). Bit-identical output (kernel doc + DedupAnnSpec
    * pin the equality); (id, band ∈ 0..perms−1, bucket) rows as before. */
  private[graft] def md5SliceBuckets(docs: DataFrame, idCol: String, textCol: String,
                                     perms: Int, ngram: Int): DataFrame = {
    // perms outside 1..4 fails analysis of this select (the expression's
    // checkInputDataTypes) for every entry point routed here
    docs.select(col(idCol).as("id"),
      posexplode(org.apache.spark.sql.graft.TextFunctionsImpl.md5_minhash_sig(
        col(textCol), lit(ngram), lit(perms))).as(Seq("band", "bucket")))
  }

  /**
   * [[lshPairs]] with an IDF-WEIGHTED Jaccard verify — the boilerplate
   * guard: under plain Jaccard a shared site template ("all rights
   * reserved …") weighs as much as shared content, so short pages with the
   * same footer read as near-duplicates. Here each token carries an integer
   * rarity weight w(t) = max(1, N div df(t)) and the verify scores
   * Σ_{t∈A∩B} w(t) / Σ_{t∈A∪B} w(t): a token on every page weighs 1, a
   * token on one page in a thousand weighs ~1000, so template-only overlap
   * collapses toward 0 while content twins keep their score.
   *
   * INTEGER weights are deliberate (vs the literature's log-IDF): the
   * per-pair sums are exact longs — order-free, partitioning-independent,
   * and replayable in ANSI SQL for the DuckDB hash gate (q94) — where ln()
   * would hit the cross-engine libm rule that keeps TF-IDF/BM25 (g8/g9)
   * ScalaTest-gated. The weight is the same 1/df rarity signal, linear
   * instead of logarithmic; the RANKING effect (boilerplate ≪ content) is
   * what the verify needs.
   *
   * Shuffle shape: candidate generation is [[lshPairs]]'s banded md5-slice
   * join unchanged (ids only, bucket caps). The weight table is a token-key
   * aggregation bounded by vocabulary size; the verify explodes each
   * candidate pair's token union ONCE with membership flags, joins the
   * (tok, w) table, and one map-side-combined aggregation produces every
   * sum the scores need — only ids and longs cross the pair-key shuffle.
   * The union weight needs no union materialization: Σ_union = wsum_a +
   * wsum_b − Σ_inter, with both per-doc wsums read off the same union rows.
   * `N` is one bounded driver count (the g9 BM25 N/avgdl precedent).
   * Output: (doc_a, doc_b, jac, wjac) for pairs with wjac ≥ the threshold.
   */
  def lshPairsWeighted(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", perms: Int = 4, ngram: Int = 3,
                       minWeightedJaccard: Double = 0.4,
                       maxBucket: Int = 100): DataFrame = {
    // tokenize + distinct ONCE: four consumers read this lineage (the N
    // count, the df aggregation, the weight maps, the pair verify joins) —
    // uncached, each would re-scan and re-tokenize the corpus. Persisted,
    // not checkpointed: the returned plan references it lazily. Lifetime —
    // honest contract: the session's CacheManager holds the entry until an
    // explicit unpersist or session end (Dataset caches are NOT reclaimed
    // by ContextCleaner/GC); memory pressure demotes blocks to disk, never
    // frees them. Per-run driver/bench sessions bound this naturally; a
    // LONG-LIVED session calling this repeatedly on varying inputs should
    // materialize the result and unpersist explicitly (the
    // KnnJoin/Setback try/finally shape).
    // The shingle pass in md5SliceBuckets is a genuinely different
    // derivation and stays separate.
    val toks = tokenSets(docs, idCol, textCol)
    val nDocs = toks.count() // also materializes the cache
    val wTok = toks.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"), greatest(lit(1L),
        expr(s"CAST($nDocs AS BIGINT) div df")).as("w"))
    // Verify via exploded (pair, tok) rows instead of shipping each doc's
    // full token→weight MAP with every candidate pair (the r6 verdict's
    // "wmap rider": a doc in many pairs re-shipped its map per pair, making
    // q94 the most expensive query on the board). Each pair explodes its
    // token UNION once with membership flags, joins the vocabulary-sized
    // (tok, w) table (AQE broadcasts it in the normal case), and ONE
    // map-side-combined aggregation yields every sum the scores need —
    // Σinter, |inter|, |union|, and both per-doc weight sums (each doc's
    // tokens are exactly its union rows with its flag set) — so only ids
    // and longs cross the pair-key shuffle (guide §2.3). All sums are exact
    // longs; jac/wjac divisions are spelled as before → bit-identical
    // output (the q94 DuckDB oracle stays green unchanged).
    val pairToks = withTokenSets(bandCandidates(
        md5SliceBuckets(docs, idCol, textCol, perms, ngram), maxBucket), toks)
      .select(col("id_a"), col("id_b"), col("toks_a"), col("toks_b"),
        explode(array_union(col("toks_a"), col("toks_b"))).as("tok"))
      .select(col("id_a"), col("id_b"), col("tok"),
        array_contains(col("toks_a"), col("tok")).as("in_a"),
        array_contains(col("toks_b"), col("tok")).as("in_b"))
    pairToks.join(wTok, Seq("tok"))
      .groupBy("id_a", "id_b")
      .agg(coalesce(sum(when(col("in_a") && col("in_b"), col("w"))), lit(0L))
          .as("inter_w"),
        count(when(col("in_a") && col("in_b"), lit(1))).as("n_inter"),
        count(lit(1)).as("n_union"),
        sum(when(col("in_a"), col("w"))).as("wsum_a"),
        sum(when(col("in_b"), col("w"))).as("wsum_b"))
      .withColumn("jac",
        col("n_inter").cast("double") / col("n_union").cast("double"))
      .withColumn("wjac",
        col("inter_w").cast("double") /
          (col("wsum_a") + col("wsum_b") - col("inter_w")).cast("double"))
      .where(col("wjac") >= minWeightedJaccard)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("jac"), col("wjac"))
  }

  /**
   * CONTAINMENT pairs — the asymmetric near-dup score for quote/subset
   * detection: |A∩B| / min(|A|, |B|) over distinct token sets, so a short
   * document fully quoted inside a long one scores 1.0 even when its
   * Jaccard is tiny. Candidate generation is the same banded minhash as
   * [[lshPairs]] (same shuffle shape, ids only) — and inherits minhash's
   * JACCARD-shaped recall: a subset pair collides in a band only when the
   * band's global-min shingle falls inside the subset, so low-Jaccard
   * containment pairs are found with probability ≈ 1−(1−|A|/|B|)^perms,
   * not certainty. For guaranteed exact-substring coverage use
   * [[spanDedup]] / [[contaminationExact]]; this operator is the cheap
   * set-level screen at identical cost to lshPairs.
   */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", perms: Int = 4, ngram: Int = 3,
                       minContainment: Double = 0.8,
                       maxBucket: Int = 100): DataFrame = {
    val toks = tokenSets(docs, idCol, textCol)
    withTokenSets(bandCandidates(
        md5SliceBuckets(docs, idCol, textCol, perms, ngram), maxBucket), toks)
      .withColumn("containment",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          least(size(col("toks_a")), size(col("toks_b"))).cast("double"))
      .where(col("containment") >= minContainment)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("containment"))
  }

  /**
   * Generalized banded MinHash near-dup pairs — the production recall knob.
   * `bands` × `rows` seeded 64-bit permutations via the one-pass codegen
   * kernel [[org.apache.spark.sql.graft.MinHashKernel]]; a pair with shingle
   * Jaccard j collides in ≥1 band with prob 1 − (1 − j^rows)^bands, so
   * (16, 4) puts the S-curve midpoint at j ≈ (1/16)^(1/4) ≈ 0.5 and web-scale
   * corpora tune (b, r) freely — the md5-slice [[lshPairs]] (≤4 single-perm
   * bands) stays as the ANSI-SQL/DuckDB-oracle-parity mode. Same shuffle
   * shape: band-key equi-join on ids only, oversized buckets capped out,
   * exact token-Jaccard verify per distinct candidate pair.
   */
  /** `multiprobe`: per band, also emit the r leave-one-out keys
    * ([[org.apache.spark.sql.graft.MinHashKernel.bandsMp]]) — an r−1-of-r
    * band agreement still collides, lifting per-band recall from j^r to
    * j^r + r·j^(r−1)(1−j) at unchanged hashing cost and (r+1)× bucket rows
    * (the posexplode position IS the (band, probe) join key). More (lower-j)
    * candidates reach the exact-Jaccard verify — the standard multiprobe
    * recall/candidate-volume trade, S-curve-tested in DedupAnnSpec. */
  def lshPairsBanded(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                     bands: Int = 16, rows: Int = 4, ngram: Int = 3,
                     minJaccard: Double = 0.5, maxBucket: Int = 1000,
                     multiprobe: Boolean = false): DataFrame = {
    require(bands >= 1 && rows >= 1, s"need bands, rows >= 1; got ($bands, $rows)")
    require(!multiprobe || rows >= 2,
      "multiprobe needs rows >= 2 (a leave-one-out of a 1-row band is the constant key)")
    val toks = tokenSets(docs, idCol, textCol)
    val keys =
      if (multiprobe) org.apache.spark.sql.graft.TextFunctionsImpl.minhash_bands_mp(
        col(textCol), lit(ngram), lit(bands), lit(rows))
      else org.apache.spark.sql.graft.TextFunctionsImpl.minhash_bands(
        col(textCol), lit(ngram), lit(bands), lit(rows))
    val buckets0 = docs.select(col(idCol).as("id"),
      posexplode(keys).as(Seq("band", "bucket")))
    jaccardVerify(bandCandidates(buckets0, maxBucket), toks, minJaccard)
  }

  /** (id, band, bucket) → distinct candidate id pairs sharing any band
    * bucket, with oversized buckets capped out. Cap enforcement aggregates
    * the (rare, by the frequent-shingle premise) oversized buckets and
    * anti-joins them — map-side partial aggregation, no per-partition sort
    * of every bucket row; AQE picks a broadcast anti-join when the oversized
    * set is small (the normal case). */
  private def bandCandidates(buckets0raw: DataFrame, maxBucket: Int): DataFrame = {
    // persisted: THREE consumers read this lineage (the oversized-bucket
    // aggregation and both self-join sides). Since the signature kernel
    // made bucket generation scan-local there is no Exchange left for
    // ReuseExchange to dedup, so without the persist each consumer would
    // re-run the full corpus scan + signature pass. (id, band, bucket) is
    // perms× the doc count — far narrower than the corpus text. Cache
    // lifetime: until unpersist or session end — see the honest-contract
    // note on lshPairsWeighted's toks cache.
    val buckets0 = buckets0raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oversized = buckets0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .select("band", "bucket")
    val buckets = buckets0.join(oversized, Seq("band", "bucket"), "left_anti")
    val a = buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** (id, distinct whitespace tokens) per doc, persisted MEMORY_AND_DISK:
    * both verify-join sides re-attach the token sets — without the persist
    * each side re-scans and re-tokenizes the corpus (their join keys differ,
    * so no exchange is reusable between them). Cache lifetime: see the
    * honest-contract note in [[lshPairsWeighted]]. */
  private def tokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), array_distinct(tokens(col(textCol))).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Candidate (id_a, id_b) pairs with both token sets re-attached as
    * toks_a / toks_b — two equi-joins (ids-only shuffles upstream). */
  private def withTokenSets(pairs: DataFrame, toks: DataFrame): DataFrame =
    pairs
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))

  /** Exact token-set Jaccard verify over distinct candidate pairs: tokens are
    * re-attached per pair ([[withTokenSets]]), then the threshold filter. */
  private def jaccardVerify(pairs: DataFrame, toks: DataFrame, minJaccard: Double): DataFrame =
    withTokenSets(pairs, toks)
      .withColumn("jac",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"))
      .where(col("jac") >= minJaccard)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jac"))

  /**
   * Benchmark decontamination: per training document, the fraction of its
   * distinct word n-grams that appear ANYWHERE in the evaluation corpus —
   * the standard leakage check before a pretraining run (a doc overlapping
   * an eval benchmark must be dropped, or downstream evals are meaningless).
   * Scale shape: the eval side is SMALL by definition → its distinct
   * shingle set broadcasts; the 10^12-row training side explodes its
   * shingles through the one-pass codegen kernel, marks hits against the
   * broadcast, and re-aggregates per doc with map-side combine. Docs too
   * short to have any n-gram report (0, 0, 0.0). Output:
   * (doc_id, n_shingles, n_hit, frac) — hash-gated as q56.
   */
  def contamination(docs: DataFrame, evalDocs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    ngram: Int = 3): DataFrame = {
    val sm: Column => Column = t =>
      org.apache.spark.sql.graft.TextFunctionsImpl.shingle_make(t, lit(ngram))
    val evalSh = evalDocs.select(explode(sm(col(textCol))).as("s"))
      .distinct().withColumn("__hit", lit(1L))
    // explode_outer keeps short/empty docs as one null-shingle row, so ONE
    // scan + one broadcast join + one groupBy covers every doc — count(s)
    // skips the null, reporting (0, 0, 0.0) without a join-back pass
    docs.select(col(idCol).as("id"),
        explode_outer(array_distinct(sm(col(textCol)))).as("s"))
      .join(broadcast(evalSh), Seq("s"), "left")
      .groupBy("id")
      .agg(count(col("s")).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_hit"),
        when(col("n_shingles") > 0L,
          col("n_hit").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)).as("frac"))
  }

  /**
   * Exact-substring decontamination — the GPT-3-style leakage check
   * complementing the n-gram-OVERLAP fraction of [[contamination]]: a
   * training document is flagged when its lowercased text CONTAINS one of
   * the eval corpus's n-token passages as an exact substring. Contract
   * (replayed verbatim by the q62 DuckDB oracle): a candidate (doc, passage)
   * pair exists iff one of the doc's own `anchorN`-grams equals the
   * passage's leading `anchorN`-gram (so occurrences are found at
   * token-aligned anchors — a passage hiding at a mid-token offset, e.g.
   * "…monkey agg…" vs "key agg", is by design not a hit on either engine);
   * candidates are then verified with a raw substring scan.
   *
   * Scale shape: eval is small by definition → the distinct passage set
   * (keyed by anchor gram) broadcasts; the training side explodes its
   * distinct anchor grams through the one-pass codegen kernel — the q56
   * shape — and only the rare anchor-hit candidates re-attach text for the
   * verify scan (AQE broadcasts the candidate side in the normal case), so
   * training text never shuffles. Output: (doc_id, n_hit, contaminated).
   */
  def contaminationExact(docs: DataFrame, evalDocs: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 8, anchorN: Int = 3): DataFrame = {
    require(n >= anchorN && anchorN >= 1,
      s"need n >= anchorN >= 1, got (n=$n, anchorN=$anchorN)")
    val sm: (Column, Int) => Column = (t, k) =>
      org.apache.spark.sql.graft.TextFunctionsImpl.shingle_make(
        coalesce(t, lit("")), lit(k))
    val passages = evalDocs.select(explode(sm(col(textCol), n)).as("passage")).distinct()
      .withColumn("gram",
        concat_ws(" ", slice(split(col("passage"), " "), 1, anchorN)))
    val trainGrams = docs.select(col(idCol).as("id"),
      explode(array_distinct(sm(col(textCol), anchorN))).as("gram"))
    val cands = trainGrams.join(broadcast(passages), Seq("gram"))
      .select("id", "passage").distinct()
    val verified = cands
      .join(docs.select(col(idCol).as("id"),
        lower(coalesce(col(textCol), lit(""))).as("__lt")), Seq("id"))
      .where(instr(col("__lt"), col("passage")) > 0)
      .groupBy("id").agg(count(lit(1)).as("n_hit")) // cands already distinct
    docs.select(col(idCol))
      .join(verified.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0L).as("contaminated"))
  }

  /**
   * Corpus-wide paragraph dedup (the C4/CCNet line-level rule): every
   * paragraph (newline-separated) that occurs more than once ACROSS the
   * corpus is kept only at its first occurrence — (doc_id, position)
   * lexicographic minimum — and removed everywhere else; documents are then
   * reassembled in original paragraph order. Boilerplate (nav bars, cookie
   * banners, license headers) duplicates at paragraph granularity long
   * before whole documents do, so this catches what doc-level dedup cannot.
   *
   * Scale shape: the keeper decision shuffles only (md5(paragraph), doc_id,
   * pos) — 16-byte digests, never paragraph text — with a map-side-combined
   * `min(struct(doc_id, pos))` per digest; the kept positions come back as
   * ONE ids-only array row per doc, so paragraph text crosses the wire
   * exactly once, on the doc_id equi-join whose hash partitioning the
   * reassembly groupBy then reuses (no second text exchange). Output:
   * (doc_id, text, n_paras, n_kept). Docs whose every paragraph loses are
   * kept with empty text (the caller's length gate is the right place to
   * drop them). Whitespace-only paragraphs are STRUCTURE, not content —
   * they are always kept and never enter the keeper contest (otherwise the
   * empty string becomes the corpus's largest "duplicate" class and every
   * doc but one loses its blank-line separators — the reason C4-style line
   * dedup excludes trivial lines). DuckDB-oracle-checked (q64) on injected
   * shared paragraphs.
   */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "para")))
    val hashed = paras.where(trim(col("para")) =!= "")
      .select(col("doc_id"), col("pos"), md5(col("para").cast("binary")).as("h"))
    // first occurrence per distinct non-trivial paragraph: lexicographic
    // min (doc, pos). These (doc, pos) pairs ARE the kept set — every
    // surviving occurrence is by definition its paragraph's first.
    val keptPos = hashed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"))
      .groupBy("doc_id").agg(collect_list(col("pos")).as("keep_pos"))
    // text's single shuffle: the doc_id join; the groupBy below reuses its
    // partitioning. array_contains is scan-local CPU over a per-doc line
    // count (small); reassembly extracts the struct field from the sorted
    // array — ordered output without a per-element higher-order function.
    // Left join: a doc whose every paragraph is blank has no keptPos row
    // but still keeps its (structural) blank lines.
    val parts = paras.join(keptPos, Seq("doc_id"), "left")
      .where(coalesce(array_contains(col("keep_pos"), col("pos")), lit(false)) ||
        trim(col("para")) === "")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("para")))).as("ps"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"), array_join(col("ps").getField("para"), "\n").as("text"),
        col("n_kept"))
    val counts = docs.select(col(idCol).as("doc_id"),
      size(split(coalesce(col(textCol), lit("")), "\n")).as("n_paras"))
    counts.join(parts, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol), coalesce(col("text"), lit("")).as(textCol),
        col("n_paras"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /**
   * Corpus-wide duplicate-SPAN removal — the fixed-window approximation of
   * suffix-array exact-substring dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better"): any k-token window whose
   * lowercased text occurs more than once across the corpus is a duplicated
   * span; every occurrence except the first — (doc_id, token position)
   * lexicographic minimum — has its k tokens removed, and documents are
   * reassembled in original token order. A duplicated run of L ≥ k tokens
   * yields L−k+1 duplicated windows whose union covers the whole run, so
   * spans of any length ≥ k are removed in full; the same doc repeating a
   * phrase internally self-dedups (the Gopher-repetition complement). The
   * suffix-array formulation needs a global sort the cluster would pay in
   * O(corpus) shuffled TEXT; this k-gram form shuffles only digests.
   *
   * Scale shape: windows come from the one-pass codegen `shingle_make`
   * kernel and shuffle as (md5, doc_id, pos) — 16-byte digests, never text.
   * Duplicated-window groups are a map-side-combined (min-struct, count)
   * aggregate; loser occurrences expand to covered token positions with a
   * codegen `sequence` + explode and come back as ONE positions-only row
   * per doc (map-side-combined collect_set). Text then crosses the wire
   * exactly once, on the doc_id equi-join whose hash partitioning the
   * reassembly groupBy reuses (the q64 shape). Output: (doc_id, text,
   * n_tokens, n_removed). Matching is on lowercased windows; removal strips
   * the original-case tokens — both sides of the q66 oracle replay this.
   */
  def spanDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", k: Int = 8): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val txt = coalesce(col(textCol), lit(""))
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(org.apache.spark.sql.graft.TextFunctionsImpl.shingle_make(
        txt, lit(k))).as(Seq("pos", "gram")))
    val hashed = grams.select(col("doc_id"), col("pos"),
      md5(col("gram").cast("binary")).as("h"))
    // duplicated windows only; keeper = lexicographic-min occurrence
    val dups = hashed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"), count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select(col("h"), col("keep"))
    val losers = hashed.join(dups, Seq("h"))
      .where(struct(col("doc_id"), col("pos")) =!= col("keep"))
      .select(col("doc_id"), col("pos"))
    // union of covered token positions, one array row per doc
    val covered = losers
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .groupBy("doc_id").agg(collect_set(col("tp")).as("cov"))
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(split(txt, " ")).as(Seq("pos", "tok")))
    val parts = toks.join(covered, Seq("doc_id"), "left")
      .where(!coalesce(array_contains(col("cov"), col("pos")), lit(false)))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("ps"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"),
        array_join(col("ps").getField("tok"), " ").as("text"), col("n_kept"))
    val counts = docs.select(col(idCol).as("doc_id"),
      size(split(txt, " ")).as("n_tokens"))
    counts.join(parts, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol), coalesce(col("text"), lit("")).as(textCol),
        col("n_tokens"),
        (col("n_tokens").cast("long") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** 64-bit SimHash over word tokens. Per-word hash = the top 64 bits of
    * md5(word) — chosen over a custom integer mix so the whole operator is
    * ANSI-SQL-expressible (hex-digit bit extraction) and DuckDB-oracle-checked
    * as q20; empty tokens are skipped on both sides. Delegates to the codegen
    * kernel so the scalar and columnar paths cannot drift. */
  def simhash64(text: String): Long =
    org.apache.spark.sql.graft.SimHashKernel.evalString(text)

  /** doc_id + simhash — a codegen [[org.apache.spark.sql.graft.SimHashExpr]]
    * (the earlier typed `Dataset.map` forced an Encoder round-trip:
    * DeserializeToObject/SerializeFromObject broke whole-stage codegen and
    * column pruning through the stage; PlanQualitySpec pins the clean plan). */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as(idCol),
      org.apache.spark.sql.graft.TextFunctionsImpl.simhash64(col(textCol)).as("simhash"))

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxHamming.
   * LSH prefilter: split the 64-bit signature into (maxHamming+1) chunks — by
   * pigeonhole, any pair within maxHamming agrees on ≥1 chunk, so candidates
   * are an equi-join on (chunk_index, chunk_value); verify = bit_count(xor).
   */
  def simhashPairs(sigs: DataFrame, idCol: String = "doc_id",
                   maxHamming: Int = 3, sigCol: String = "simhash"): DataFrame = {
    val chunks = maxHamming + 1
    val bits = 64 / chunks
    // disjoint chunks suffice for the pigeonhole guarantee even when
    // chunks*bits < 64: ≤ maxHamming differing bits cannot touch all
    // maxHamming+1 chunks, so some chunk is equal; verify counts all 64 bits
    // persisted: both self-join sides read this lineage — when the caller's
    // `sigs` is an unmaterialized signature computation (q39 passes the
    // simhash kernel plan), each side would re-run it (the Dedup cache
    // pattern; cache lives until unpersist/session end — see lshPairsWeighted)
    val chunked = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col(sigCol), c * bits)
          .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("chunk", "cv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = chunked.select(col("chunk"), col("cv"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("cv"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "cv"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /**
   * Image near-duplicate pairs by perceptual dHash Hamming distance — the
   * multimodal twin of [[simhashPairs]] over the input_hint image payload:
   * decode → 9x8 luminance dHash once per image (bounded mapPartitions
   * batches, NOT per candidate pair), then the same pigeonhole-banded
   * self-join + exact bit_count verify. At 10^12 images the decode pass is
   * embarrassingly parallel and the join shuffles 64-bit signatures, never
   * pixels.
   */
  def imageNearDup(imgs: DataFrame, idCol: String = "image_id",
                   maxHamming: Int = 6, algo: String = "dhash"): DataFrame = {
    val sigs = algo match {
      case "dhash" => graft.functions.ImageFunctions.extractFeatures(imgs)
        .select(col("image_id").as(idCol), col("dhash"))
      // DCT pHash: tighter under recompression noise — the planted PNG/JPEG
      // pairs sit ~2-3 Hamming apart vs ~6-10 for dHash, so the banded
      // prefilter runs at a smaller radius (fewer, more selective chunks)
      case "phash" => graft.functions.ImageFunctions.dctHashes(imgs)
        .select(col("image_id").as(idCol), col("phash_dct").as("dhash"))
      case other => throw new IllegalArgumentException(
        s"imageNearDup: unknown algo '$other' (dhash | phash)")
    }
    simhashPairs(sigs, idCol, maxHamming, sigCol = "dhash")
  }

  /**
   * Embedding near-dup via cosine-LSH (random hyperplanes): bucket = sign bits
   * of dot(v, r_j); candidates share a bucket; verify exact cosine ≥ threshold.
   * Hyperplanes are deterministic (seeded) literal arrays — no driver RNG state.
   */
  def embeddingNearDup(embs: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding", dim: Int = 64,
                       planes: Int = 8, bands: Int = 4, minCosine: Double = 0.95): DataFrame = {
    // Same narrow shape as [[lshPairs]]: the band self-join and the candidate
    // distinct carry ids ONLY (the previous version dragged both 64-float
    // vectors through the distinct shuffle — pairs × vector width of shuffle
    // volume); vectors are re-attached per distinct pair with two equi-joins,
    // then verified with exact cosine.
    val vecs = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withB = embs.select(col(idCol).as("id"),
        posexplode(lshBuckets(col(vecCol), dim, planes, bands)).as(Seq("band", "bucket")))
    val a = withB.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = withB.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", AnnSearch.cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023): k-means-cluster the
   * embedding space, compute EXACT pairwise cosine only WITHIN each cluster,
   * connect pairs at `minCosine`, keep one representative (the component-min
   * id — deterministic; the paper's centroid-distance keeper is a
   * hyperparameter, min-id keeps the operator content-derived) per group.
   * Complements [[embeddingNearDup]] (hyperplane-LSH candidates, recall
   * knob): SemDeDup's clusters give locality-complete candidates inside a
   * cluster at O(Σ cᵢ²) cost — the trade the paper makes, sized so every
   * cluster's pair set is tractable.
   *
   * Scale shape: the centroid fit is the bounded ivfTopK pattern (≤ ~100
   * rows per list ever reach the driver); assignment is the codegen
   * `ivf_assign` projection (no Encoder round-trip on the 10^12-row side);
   * clusters beyond `clusterCap` are capped OUT of the pair join via an
   * aggregated anti-join (their rows are kept, flagged `capped` — no dedup
   * evidence beats a task that never finishes, the lshPairs rule);
   * the within-cluster self-join shuffles each row once per side, keyed on
   * the cluster id; components use the O(log n)-round star CC.
   * Returns (idCol, list_id, root, kept, capped) for every input row.
   */
  def semanticDedup(embs: DataFrame, minCosine: Double = 0.95,
                    nlist: Int = 64, iters: Int = 5, clusterCap: Int = 20000,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    checkpointDir: Option[String] = None): DataFrame = {
    val sample = AnnSearch.fitSample(embs, idCol, vecCol, math.max(1000, nlist * 100), nlist)
    require(sample.nonEmpty, "semanticDedup: no rows to fit centroids from")
    val centroids = AnnSearch.kmeans(sample, nlist, iters)
    val ivf = new org.apache.spark.sql.graft.IvfCentroids(
      centroids.indices.map(_.toLong).toArray, centroids)
    val assigned = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id",
        org.apache.spark.sql.graft.VecFunctionsImpl.ivf_assign(col("v"), ivf))
    val big = assigned.groupBy("list_id").agg(count(lit(1)).as("n"))
      .where(col("n") > clusterCap).select(col("list_id"))
    val inPlay = assigned.join(big, Seq("list_id"), "left_anti")
    val aSide = inPlay.select(col("list_id"), col("id").as("id_a"), col("v").as("v_a"))
    val bSide = inPlay.select(col("list_id"), col("id").as("id_b"), col("v").as("v_b"))
    val pairs = aSide.join(bSide, Seq("list_id"))
      .where(col("id_a") < col("id_b") &&
        AnnSearch.cosine(col("v_a"), col("v_b")) >= minCosine)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // star-CC roots are component minima, so root == id IS the keeper test
    val cc = connectedComponents(pairs, checkpointDir = checkpointDir)
      .withColumnRenamed("node", "id")
    assigned.join(big.withColumn("capped", lit(true)), Seq("list_id"), "left")
      .join(cc, Seq("id"), "left")
      .select(col("id").as(idCol), col("list_id"),
        coalesce(col("root"), col("id")).as("root"),
        (coalesce(col("root"), col("id")) === col("id")).as("kept"),
        coalesce(col("capped"), lit(false)).as("capped"))
  }

  /**
   * Connected components over a near-duplicate pair graph — the grouping
   * step every real dedup pipeline needs (keep ONE document per transitive
   * duplicate CLUSTER, not per pair). Alternating large-star / small-star
   * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
   * the edge set itself is rewired toward min-rooted stars, converging in
   * O(log n) ROUNDS — round count is independent of component DIAMETER,
   * unlike label propagation, whose O(diameter) barriers are the failure
   * mode on templated-text duplicate chains (A~B~C~…) in web corpora.
   * Each round is two groupBy+join passes over the current edge set plus a
   * distinct, eagerly checkpointed. Input pairs (a, b); output (node, root)
   * with root = min node id of the component.
   *
   * `checkpointDir`: see [[graft.core.Checkpoints]] — unset uses local
   * checkpoints (fastest; local-mode/testing), set uses reliable checkpoints
   * that survive executor loss on a real cluster.
   */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters, checkpointDir)._1

  /** One large-star pass: for every node u, connect each strictly LARGER
    * neighbour to the minimum of u's closed neighbourhood. Input/output in
    * canonical (u > v) orientation; output not yet deduped — emitted edges
    * (v, m) always satisfy v > u ≥ m, so orientation is preserved and no
    * self-loops arise. Implemented as groupBy(min) + equi-join, never a
    * per-node collect, so hub nodes cannot blow up a single task. */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = bidir.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    bidir.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** One small-star pass: for every node u, connect its strictly SMALLER
    * neighbourhood (and u itself) to that neighbourhood's minimum. Emitted
    * edges stay canonical: (v, m) has v > m by v ≠ m, and (u, m) has u > m
    * because every small-neighbour is < u. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    e.join(mins, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
  }

  /** [[connectedComponents]] plus the number of (large-star, small-star)
    * rounds taken — the O(log n) claim is testable, not asserted (0 on the
    * small-graph driver path below).
    *
    * Small-graph fast path (the Setback.auto threshold pattern): a star
    * round costs 4-5 cluster barriers (two groupBy+join passes, a distinct,
    * a checkpoint, the convergence checksum), and a near-dup pair graph at
    * bench scale converges in ~4 rounds — ~20 barriers to label a few
    * thousand edges. When the deduped edge set is at most
    * `spark.graft.graph.smallGraphMaxEdges` (default 2^20; 0 disables —
    * the one driver-fit bound GraphPaths' fast paths share), the
    * edges are a BOUNDED driver fit — ≤16 MB of longs, the ivf-centroid /
    * BM25-stats precedent — and one union-find pass labels them exactly;
    * the labels return as a local relation, so downstream joins broadcast
    * instead of shuffling. Above the threshold (the 10^12-doc corpus whose
    * pair graph has billions of edges) nothing changes: O(log n) star
    * rounds, per-round checkpoints, structural audits. Both paths are
    * label-identical by construction (min-root is unique); DedupAnnSpec
    * pins the equality on both sides of the threshold. */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIters: Int = 50,
                                    checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val ck = graft.core.Checkpoints.strategy(pairs, checkpointDir)
    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor: order-insensitive AND overflow-free under ANSI mode (a
      // sum of 64-bit hashes overflows); edges are distinct so xor never
      // self-cancels
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // canonical orientation u > v; checkpointed (a block-manager re-read,
    // never an upstream recompute) — self-loop rows (u == v) are RETAINED
    // here so isolated self-paired nodes can be labelled below, and only
    // filtered out of the star iteration
    val edges0 = ck(pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct())
    val smallMax = GraphPaths.smallGraphMaxEdges(spark)
    // LONG ids only: the driver union-find compares with Long ordering, which
    // matches Spark's greatest/least/min there; string-id callers (e.g. the
    // curate pipeline's image keys) keep the distributed path, whose ordering
    // is Spark's own
    val longIds = edges0.schema("u").dataType ==
      org.apache.spark.sql.types.LongType
    // ONE bounded collect is both the size probe and the fast path's input
    if (longIds) graft.core.Regime.collectUpTo(edges0, smallMax) match {
      case Some(rows) =>
        import spark.implicits._
        // null-id pairs are dropped: the distributed star joins ignore them
        // identically (they still count toward the threshold)
        val es = rows.collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
          (r.getLong(0), r.getLong(1)) }
        val labels = bruteComponents(es.toSeq).toSeq.sortBy(_._1).toDF("node", "root")
        return (labels, 0)
      case None =>
    }
    // inter-pass distinct threshold: in a k-clique large-star emits each
    // (v, min) edge ~k times, so ABOVE the threshold the dedup shuffle is k×
    // smaller than the small-star join it feeds — worth a round-trip. BELOW
    // it (small graphs / late rounds, where near-convergent stars emit few
    // duplicates) the extra exchange costs more than the duplicates it
    // removes: small-star's groupBy(min) and the round-final distinct are
    // duplicate-insensitive, so skipping is a pure plan change, not a
    // semantic one (DedupAnnSpec asserts identical components and the same
    // round bound on both sides of the threshold).
    val interDistinctMinEdges = graft.core.Confs.longConf(pairs.sparkSession,
      "spark.graft.cc.interDistinctMinEdges", 1L << 22, min = 0L)
    var edges = edges0.where(col("u") =!= col("v"))
    var sig = checksum(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val ls = largeStar(edges)
      val lsDeduped = if (sig._1 >= interDistinctMinEdges) ls.distinct() else ls
      edges = ck(smallStar(lsDeduped).distinct())
      rounds += 1
      val nsig = checksum(edges)
      // the min-rooted star state is the unique fixed point of a round, so
      // an unchanged edge set IS convergence (order-insensitive checksum;
      // the structural audits below make a checksum collision harmless)
      converged = nsig == sig
      sig = nsig
    }
    require(converged,
      s"connectedComponents did not converge in $maxIters star rounds")
    val roots = edges.select(col("v").as("node")).distinct()
      .select(col("node"), col("node").as("root"))
    // nodes appearing ONLY in self-loop pairs (a == b) have no star edge but
    // must still be labelled (root = self) — dropping them would silently
    // lose rows for callers joining labels back to their input's node set
    val starLabels = edges.select(col("u").as("node"), col("v").as("root"))
      .unionByName(roots)
    val selfOnly = edges0.where(col("u") === col("v"))
      .select(col("u").as("node")).distinct()
      .join(starLabels.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("root"))
    // checkpointed: the two audits below and the caller's downstream jobs
    // read blocks instead of re-deriving the union+distinct
    val labels = ck(starLabels.unionByName(selfOnly).distinct())
    // structural audits, both O(V or E) single aggregations: every node has
    // exactly one root, and both endpoints of every INPUT pair agree — an
    // implementation bug (or a checksum collision) fails loudly instead of
    // silently splitting clusters
    val multi = labels.groupBy("node").agg(count(lit(1)).as("nr"))
      .where(col("nr") > 1L).count()
    require(multi == 0, s"connectedComponents: $multi nodes carry multiple roots")
    val disagree = edges0
      .join(labels.select(col("node").as("u"), col("root").as("ru")), Seq("u"))
      .join(labels.select(col("node").as("v"), col("root").as("rv")), Seq("v"))
      .where(col("ru") =!= col("rv")).count()
    require(disagree == 0,
      s"connectedComponents: $disagree input pairs straddle two components")
    (labels, rounds)
  }

  /** Per-cluster summary: (cluster_root = min doc id, csize). */
  def dupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("root").as("cluster_root"))
      .agg(count(lit(1)).as("csize"))

  /** Driver-side union-find oracle (tests). */
  def bruteComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /**
   * Per-domain document cap — the web-crawl curation knob that stops a
   * single boilerplate-heavy host from dominating the corpus: keep at most
   * `maxPerDomain` docs per domain, chosen DETERMINISTICALLY by salted
   * content-derived md5 order (the q38/q63 mechanism) so the kept set is a
   * uniform per-domain sample that is byte-stable across reruns, partitions
   * and cluster sizes — never "first N encountered", which depends on scan
   * order. Shuffle shape: ONE groupBy on the domain with the k-bounded
   * `topk_by` aggregate (all scores tie at 0.0, so the (score desc, key asc)
   * order reduces to md5-key ascending): only k-entry buffers cross the
   * shuffle, map-side combined — a mega-host with 10^9 pages costs the same
   * network as one with k. The doc id rides the buffer as payload (no
   * join-back). DuckDB-oracle-checked (q71).
   */
  def domainCap(docs: DataFrame, maxPerDomain: Int,
                domainCol: String = "domain", idCol: String = "doc_id",
                salt: String = "dom"): DataFrame = {
    val rank = concat(
      md5(concat(col(idCol).cast("string"), lit(salt)).cast("binary")),
      lit("#"), col(idCol).cast("string"))
    docs.select(col(domainCol), col(idCol), rank.as("rk"))
      .groupBy(col(domainCol))
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        lit(0.0), col("rk"), col(idCol), maxPerDomain).as("top"))
      .select(col(domainCol), explode(col("top")).as("e"))
      .select(col("e.payload").as(idCol), col(domainCol))
  }

  /**
   * Cross-source duplication matrix — the corpus-governance dashboard
   * question "how much of source X duplicates source Y": near-dup pairs
   * (the q19 banded-LSH shape, no all-pairs join) re-labelled with each
   * side's source and counted per UNORDERED source pair (canonicalized
   * least/greatest, so the matrix is upper-triangular; the diagonal is
   * within-source duplication). Everything after candidate generation
   * shuffles only (id, source) tuples — text never re-shuffles — and the
   * final aggregate is map-side combined. At 10^12 docs the matrix itself
   * is |sources|² rows, a driver-readable governance report.
   */
  def crossSourceDupMatrix(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", srcCol: String = "source",
                           perms: Int = 4, minJaccard: Double = 0.5): DataFrame = {
    val pairs = lshPairs(docs.select(col(idCol), col(textCol)), idCol, textCol,
      perms = perms, minJaccard = minJaccard)
    val src = docs.select(col(idCol), col(srcCol))
    val labelled = pairs
      .join(src.select(col(idCol).as("doc_a"), col(srcCol).as("sa")), "doc_a")
      .join(src.select(col(idCol).as("doc_b"), col(srcCol).as("sb")), "doc_b")
    labelled
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Multimodal duplicate pairs for an image+caption table: candidates come
   * from the TEXT side (banded caption LSH — cheap, no all-pairs join) and
   * are verified on the VISUAL side (64-bit perceptual signature within
   * `maxHamming`, e.g. the input table's `phash` column) — a pair must
   * agree in BOTH modalities, so recaptioned images and coincidentally
   * same-caption distinct photos both survive. The signature join moves
   * only (id, 64-bit sig) tuples; the Hamming check is one codegen
   * bit_count(xor). Output: (doc_a, doc_b, hamming).
   */
  def multimodalDupPairs(rows: DataFrame, idCol: String = "image_id",
                         textCol: String = "caption", sigCol: String = "phash",
                         minJaccard: Double = 0.5, maxHamming: Int = 6): DataFrame = {
    val pairs = lshPairs(rows.select(col(idCol), col(textCol)), idCol, textCol,
      minJaccard = minJaccard)
    val sig = rows.select(col(idCol), col(sigCol))
    pairs
      .join(sig.select(col(idCol).as("doc_a"), col(sigCol).as("sig_a")), "doc_a")
      .join(sig.select(col(idCol).as("doc_b"), col(sigCol).as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Banded sign-bit LSH: `bands` independent bucket keys, each from `planes`
   * seeded hyperplanes (a pair within cosine θ collides in a band with prob
   * (1 − acos(θ)/π)^planes; missing ALL bands is exponentially unlikely).
   * Pure built-in expressions — the hyperplanes are literal arrays.
   */
  def lshBuckets(vec: Column, dim: Int, planes: Int, bands: Int): Column =
    array((0 until bands).map { b =>
      val terms: Seq[Column] = (0 until planes).map { p =>
        val r = Array.tabulate(dim)(d => Hashing.uniform(0xABCDEF + b * planes + p, d) * 2.0 - 1.0)
        val rLit = array(r.map(lit): _*)
        when(AnnSearch.dot(vec, rLit) >= 0.0, lit(1L << p)).otherwise(lit(0L))
      }
      terms.reduce(_ + _)
    }: _*)
}
