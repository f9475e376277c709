package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines: language ID (stopword + n-gram
 * heuristic), quality scoring, token counting, document fingerprinting.
 * Everything on the scan path is built-in Catalyst functions.
 */
object TextFunctions {

  /** Small per-language stopword profiles (public common-word lists). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"),
    "es" -> Seq("el", "la", "los", "de", "que", "es", "una", "por", "con", "para"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"))

  /**
   * Heuristic language ID: CJK-character ratio decides zh; otherwise the
   * language whose stopword profile scores highest (no hits → 'und').
   * Native single-pass codegen kernel ([[org.apache.spark.sql.graft
   * .LangIdKernel]]); the pure-column formulation it replaces (regexp + 40
   * array_contains scans re-walked the text ~41x per row) is the semantics
   * oracle in the tests.
   */
  def langId(textCol: Column): Column =
    org.apache.spark.sql.graft.TextFunctionsImpl.lang_id(textCol)

  /**
   * Quality score ∈ [0,1]: length, lexical diversity, mean word length.
   * All arithmetic is ANSI-expressible (DuckDB-oracle-checked as q26).
   */
  def qualityColumns(textCol: Column): Seq[Column] = {
    val toks = split(textCol, " ")
    val nTok = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val meanWordLen = (length(textCol).cast("double") - nTok + lit(1.0)) / nTok
    val score = lit(0.5) * least(lit(1.0), nTok / lit(50.0)) +
      lit(0.3) * distinctRatio +
      lit(0.2) * least(lit(1.0), meanWordLen / lit(8.0))
    Seq(nTok.cast("int").as("n_tokens"), distinctRatio.as("distinct_ratio"),
      meanWordLen.as("mean_word_len"), score.as("quality"))
  }

  /**
   * Deterministic train/val/test split: md5 of the row id → first 4 hex
   * chars → bucket in [0,100). Content-derived (no RNG), so the split is
   * stable across runs, partitions and cluster sizes — the property a
   * training-data pipeline needs so re-runs never leak val rows into train.
   * ANSI-expressible (DuckDB-oracle-checked as q38).
   */
  def hashSplit(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val bucket = conv(substring(md5(id.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /**
   * Weighted mixture sampling — the per-source data-mixture knob every
   * pretraining run tunes (e.g. upsample books, downsample common-crawl):
   * keep a row with probability `weights(source)` (sources absent from the
   * map keep `defaultWeight`), decided by a content-derived md5 bucket over
   * the row id — the q38/q45 mechanism, so the accept set is deterministic,
   * partition/cluster-size independent and byte-stable across reruns, and
   * the filter is scan-local (zero shuffle, no RNG state). `salt`
   * decorrelates the sampling hash from [[hashSplit]]'s (the same digest
   * would correlate mixture acceptance with the train/val/test split).
   * Bucket = first 16 bits of md5(id||salt) vs floor-free `w * 65536`
   * double compare — 1/65536 weight resolution, exact on both engines
   * (q63 oracle).
   */
  def mixtureFilter(id: Column, source: Column, weights: Map[String, Double],
                    defaultWeight: Double = 1.0, salt: String = "mix"): Column = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0.0 && w <= 1.0),
      s"mixture weights must be in [0, 1], got $weights / default $defaultWeight")
    val bucket = conv(substring(
      md5(concat(id.cast("string"), lit(salt)).cast("binary")), 1, 4), 16, 10)
      .cast("long").cast("double")
    // sorted: a stable when-chain, so the plan (and its checksum) doesn't
    // depend on Map iteration order
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (s, wt)) => when(source === s, lit(wt)).otherwise(acc)
    }
    bucket < w * lit(65536.0)
  }

  /** [[mixtureFilter]] applied: the surviving rows of `docs`. */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
                    defaultWeight: Double = 1.0,
                    idCol: String = "doc_id", srcCol: String = "source",
                    salt: String = "mix"): DataFrame =
    docs.where(mixtureFilter(col(idCol), col(srcCol), weights, defaultWeight, salt))

  /**
   * Host extraction from a URL: scheme-prefixed authority, lowercased, with
   * a leading `www.` stripped — the grouping key for per-domain caps and
   * crawl accounting. Regex constructs restricted to Java/RE2-identical
   * semantics (the q57 lesson); ports/userinfo are kept as part of the
   * authority. Scan-local; DuckDB-oracle-checked as part of q71.
   */
  def hostOf(url: Column): Column =
    regexp_replace(
      regexp_extract(lower(url), "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1),
      "^www\\.", "")

  /**
   * URL canonicalization — the dedup key a web-crawl pipeline groups on
   * before content dedup ever runs (the same page arrives under
   * `HTTPS://Site/a?utm_source=x&q=1#top` and `https://site/a?q=1`):
   *  - scheme and host lowercase (path/query case is significant, RFC 3986);
   *  - fragment dropped;
   *  - tracking parameters removed (`utm_*`, `fbclid`, `gclid`);
   *  - remaining query parameters SORTED (param order is non-semantic for
   *    the overwhelming majority of pages; the standard crawl-dedup choice);
   *  - trailing path slashes trimmed, empty path normalized to `/`.
   * Composed from scan-local built-ins (regexp splits + array_sort/
   * array_join; the HOF filter runs per URL over a handful of params).
   * Regex constructs restricted to Java/RE2-identical semantics like
   * [[hostOf]], so the DuckDB twin replays byte-for-byte (q99).
   */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    val rawPath = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?]*)", 1)
    val path = when(regexp_replace(rawPath, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(rawPath, "/+$", ""))
    val params = filter(split(regexp_extract(noFrag, "\\?(.*)$", 1), "&"),
      p => length(p) > 0 && !p.rlike("^(utm_|fbclid|gclid)"))
    val query = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(query === "", lit("")).otherwise(concat(lit("?"), query)))
  }

  /** Normalized-content fingerprint (md5 over lowercased, space-collapsed text). */
  def fingerprint(textCol: Column): Column =
    substring(md5(regexp_replace(lower(textCol), "\\s+", " ").cast("binary")), 1, 16)

  /**
   * PII redaction: e-mail addresses and phone-shaped digit runs replaced by
   * typed placeholders — the scrub pass every public-web training corpus
   * runs before anything else. Pure codegen `regexp_replace` chain on the
   * scan (no UDF); the patterns deliberately use only constructs with
   * identical semantics in Java regex and RE2, so the operator is
   * DuckDB-oracle-checked (q57) — cross-engine regex parity is exactly the
   * kind of silent divergence a 100-TB scrub cannot afford.
   */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val PhoneRe = "\\+[0-9][0-9 ()-]{6,}[0-9]"
  def redactPii(textCol: Column): Column =
    regexp_replace(regexp_replace(textCol, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /**
   * Intra-document repetition (the MassiveText/Gopher "repeated n-gram
   * fraction" quality rule): 1 − distinct/total over word 3-grams; 0 for
   * docs too short to have any. High values flag boilerplate/templated
   * text that survives per-document dedup. Built-ins only; q58 oracle.
   */
  def repetitionColumns(textCol: Column, n: Int = 3): Seq[Column] = {
    // null text == empty string == zero grams — size(null) would propagate
    // NULL counts, diverging from the documented (0, 0, 0.0) contract and
    // from the q58 oracle's ELSE-[] branch
    val grams = org.apache.spark.sql.graft.TextFunctionsImpl
      .shingle_make(coalesce(textCol, lit("")), lit(n))
    val total = size(grams).cast("long")
    val distinctN = size(array_distinct(grams)).cast("long")
    Seq(total.as("n_grams"), distinctN.as("n_distinct"),
      when(total > 0L, lit(1.0) - distinctN.cast("double") / total.cast("double"))
        .otherwise(lit(0.0)).as("rep_frac"))
  }

  /** Just the repeated-n-gram fraction (for filters/gates). */
  def repetitionFrac(textCol: Column, n: Int = 3): Column =
    repetitionColumns(textCol, n).last

  /**
   * Gopher/MassiveText quality-rule pack beyond the repeated-n-gram rule
   * (q58): duplicate-line fraction + duplicate-line CHARACTER fraction
   * (boilerplate navigation/footer text repeats whole lines), symbol-to-word
   * ratio ('#' and ellipsis — templated/spammy markup), and the fraction of
   * lines that start with a bullet or end in an ellipsis (list-shaped pages
   * that read poorly as prose). All scan-local built-ins (split/array_distinct/
   * concat_ws/regexp_count — codegen'd, zero shuffle); the regexes are
   * chosen for identical Java-regex/RE2 SEMANTICS, so the whole pack is
   * DuckDB-oracle-checked (q60) on deterministically injected structure.
   * The line-anchored patterns carry Java's UNIX_LINES flag — `(?dm)` —
   * because Java's default multiline terminators include CR, NEL
   * (U+0085), LS (U+2028) and PS (U+2029) while RE2's `(?m)` anchors
   * at LF only; with the `d` flag both
   * engines anchor at exactly \n, which also matches the `split("\n")`
   * line model of the dup-line rules (the DuckDB twin spells it `(?m)` —
   * RE2 has no `d` flag and needs none).
   * Conventions: null text == ""; a single-line doc scores 0 on the line
   * rules; `n_words` is the space-split token count shared with [[tokens]].
   */
  def gopherColumns(textCol: Column): Seq[Column] = {
    val t = coalesce(textCol, lit(""))
    val lines = split(t, "\n")
    val nLines = size(lines)
    val dupLineFrac = when(nLines > 1,
      lit(1.0) - size(array_distinct(lines)).cast("double") / nLines.cast("double"))
      .otherwise(lit(0.0))
    // sum of line lengths via concat_ws — order-independent, no per-element
    // higher-order function (HOFs are interpreted per element on the scan)
    val allChars = length(concat_ws("", lines)).cast("double")
    val dupCharFrac = when(nLines > 1 && allChars > 0.0,
      lit(1.0) - length(concat_ws("", array_distinct(lines))).cast("double") / allChars)
      .otherwise(lit(0.0))
    val nWords = size(split(t, " ")).cast("double") // >= 1 (split min one token)
    val symbolRatio = regexp_count(t, lit("#|\\.\\.\\.|…")).cast("double") / nWords
    val bulletFrac = regexp_count(t, lit("(?dm)^[-*•]")).cast("double") / nLines.cast("double")
    val ellipsisFrac =
      regexp_count(t, lit("(?dm)(\\.\\.\\.|…)$")).cast("double") / nLines.cast("double")
    Seq(nLines.as("n_lines"), dupLineFrac.as("dup_line_frac"),
      dupCharFrac.as("dup_char_frac"), symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_line_frac"), ellipsisFrac.as("ellipsis_line_frac"))
  }

  /** Just the duplicate-line fraction (for filters/gates). */
  def dupLineFrac(textCol: Column): Column = gopherColumns(textCol)(1)
  /** Just the symbol-to-word ratio (for filters/gates). */
  def symbolRatio(textCol: Column): Column = gopherColumns(textCol)(3)

  /**
   * Top-n-gram mass (the remaining Gopher repetition rule, one per n): the
   * fraction of the document's tokens covered by occurrences of its single
   * most frequent word n-gram, ties broken by gram ascending — high values
   * flag a doc dominated by one repeated phrase. Needs a per-doc frequency
   * table, so unlike [[gopherColumns]] it is a groupBy pair, with the argmax
   * taken by the 1-bounded `topk_by` aggregate (map-side combine, no per-doc
   * sort or window). total tokens = Σcnt + n − 1 falls out of the same
   * aggregate — no join-back against the doc table. Self-overlapping
   * occurrences ("a a a a" for n=2) would nominally cover more tokens than
   * the doc has, so the mass is clamped to 1.0 — a gate like "drop if
   * top-2-gram mass > 0.2" must see a true fraction. Gramless docs (shorter
   * than n tokens) report (null, null, 0.0). DuckDB-oracle-checked (q61).
   */
  def topNgramMass(docs: DataFrame, n: Int = 2,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"topNgramMass: n must be >= 2 (n=1 is plain mode), got $n")
    val grams = docs.select(col(idCol).as("doc_id"),
      explode_outer(org.apache.spark.sql.graft.TextFunctionsImpl.shingle_make(
        coalesce(col(textCol), lit("")), lit(n))).as("gram"))
    // count(gram) not count(*): the explode_outer null-gram row (gramless
    // doc) must count 0, not 1
    val cnt = grams.groupBy("doc_id", "gram").agg(count(col("gram")).as("cnt"))
    val top = cnt.groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        col("cnt").cast("double"), col("gram"), 1).as("top"),
        sum(col("cnt")).as("total"))
    val e = try_element_at(col("top"), lit(1))
    top.select(col("doc_id"),
      e.getField("key").as("top_gram"),
      e.getField("score").cast("long").as("top_cnt"),
      when(col("total") > 0L,
        least(lit(1.0), e.getField("score") * lit(n.toDouble) /
          (col("total").cast("double") + lit((n - 1).toDouble))))
        .otherwise(lit(0.0)).as("frac"))
  }

  /**
   * Reference-LM coverage score (the exact-arithmetic core of CCNet-style
   * LM quality filtering): build the reference corpus's top-`k` word
   * n-grams, then score each document by the fraction of ITS n-grams that
   * appear in that reference set — high coverage = typical of the reference
   * (e.g. Wikipedia), low = noise/boilerplate/another register. CCNet ranks
   * by Kneser-Ney perplexity; coverage is the ln()-free proxy that keeps
   * the operator DuckDB-oracle-checkable (q74 — the same reason TF-IDF's
   * ranks are StrictMath-replayed instead): counts and one final division,
   * bit-deterministic.
   *
   * Scale shape: reference n-gram counts are one hash groupBy (map-side
   * combined); the global top-k is the k-bounded `topk_by` aggregate
   * (cnt desc, gram asc — deterministic ties), so only k-entry buffers
   * reach the driver-free final merge; the top set is k rows BY
   * CONSTRUCTION → broadcast equi-join against the exploded doc grams (the
   * 10^12-row side never shuffles for the join); per-doc hits/totals are
   * one more map-side-combined groupBy. Gate use: semi-join ids where
   * `coverage >= m`.
   */
  def lmCoverage(docs: DataFrame, refDocs: DataFrame, k: Int = 4096, n: Int = 2,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = (c: Column) => org.apache.spark.sql.graft.TextFunctionsImpl
      .shingle_make(coalesce(c, lit("")), lit(n))
    val refTop = refDocs.select(explode(sh(col(textCol))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        col("cnt").cast("double"), col("gram"), k).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.key").as("gram"), lit(1).as("hit"))
    docs.select(col(idCol).as("doc_id"), explode_outer(sh(col(textCol))).as("gram"))
      .join(broadcast(refTop), Seq("gram"), "left")
      .groupBy("doc_id")
      // count(gram), not count(*): the explode_outer null row (gramless doc)
      // must count 0
      .agg(count(col("gram")).as("n_grams"), count(col("hit")).as("n_hits"))
      .withColumn("coverage",
        when(col("n_grams") > 0L,
          col("n_hits").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /**
   * TF-IDF keyword extraction: the top-k terms of each document by
   * tf · ln(N/df), ties broken by term — corpus-level keyword/topic
   * signal for curation and inspection. Shuffle shape: one groupBy for
   * per-doc term frequencies, one for document frequencies, an equi-join
   * on term, and a k-bounded `topk_by` aggregate per doc (map-side combine:
   * only k-entry buffers cross the final shuffle, and the (tf, df) columns
   * ride the buffer as payload, so there is NO join-back against the full
   * (doc, term) table and NO per-doc sort of it — at 10^12 docs that table
   * is the query's largest intermediate, which a row_number() window would
   * shuffle AND sort whole); the corpus size joins in as a broadcast
   * scalar. NOT DuckDB-oracled by design: ln() is libm-dependent
   * and a last-ulp difference between engines could flip a rank at an
   * exact crossover (the same reason hex_encode's pow-based oracle was
   * rejected) — TextStatsSpec replays the exact formula with the same
   * StrictMath.log (what Spark's `log` evaluates) instead.
   */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // canonical tokenizer shared with the dedup family — a divergent token
    // stream here would silently decouple TF-IDF from the df/dedup view
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(graft.operators.Dedup.tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    // persisted: TWO consumers read the tf lineage (the df aggregation and
    // the scored join) — unpersisted, each re-scans and re-tokenizes the
    // corpus and re-runs the (doc, term) aggregation. Function-local
    // handle; cache lives until unpersist or session end (the Dedup
    // honest-lifetime contract — see lshPairsWeighted's toks note).
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tf already has one row per (doc, term) — df falls out of it without
    // re-tokenizing the corpus or shuffling the exploded token stream again
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")))
    scored.groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        col("tfidf"), col("term"), struct(col("tf"), col("df")), k).as("top"))
      .select(col("doc_id"), explode(col("top")).as("e"))
      .select(col("doc_id"), col("e.key").as("term"),
        col("e.payload.tf").as("tf"), col("e.payload.df").as("df"),
        col("e.rnk").as("rnk"))
  }

  /**
   * BM25 retrieval: top-k documents per query under the Lucene/Robertson
   * BM25 formula — idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), contribution
   * per query term = idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), summed
   * over the query's DISTINCT terms (the standard simple variant; query-side
   * term weighting is out of scope). N = total corpus docs, dl = the doc's
   * non-empty token count, avgdl = Σdl / N — both integral sums, so avgdl is
   * bit-deterministic. The per-(query, doc) score is folded over the term
   * contributions in SORTED term order (`sort_array` + `aggregate`), so the
   * floating sum never depends on partitioning — the determinism-probe
   * contract every g-query rides. ln() is engine-specific (StrictMath here),
   * so like TF-IDF (g8) this has a driver StrictMath replay, not a DuckDB row.
   *
   * Scale shape: queries are small BY DEFINITION, so the global stats
   * (N, avgdl) and the per-query-term idf are bounded eager driver fits —
   * two corpus passes at call time (the ivf-centroid / bloom-bytes
   * pattern: ≤ |distinct query terms| rows ever reach the driver) — and
   * the returned plan touches the corpus exactly ONCE: a per-doc
   * aggregation emitting (dl, the doc's query-term occurrences), with
   * non-candidate docs dropped at that first shuffle. (The naive fully-lazy
   * formulation re-derives the tf lineage under every join — 14 scans of
   * the corpus at bench scale.) Scoring folds term contributions in SORTED
   * term order, so the floating sum never depends on partitioning — the
   * determinism-probe contract. Ranking is the k-bounded `topk_by`
   * aggregate — no Window, no full sort. ln() is engine-specific
   * (StrictMath here), so like TF-IDF (g8) this has a driver StrictMath
   * replay, not a DuckDB row.
   */
  def bm25TopDocs(docs: DataFrame, queries: DataFrame, k: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "doc_id", textCol: String = "text",
                  qIdCol: String = "query_id", qTextCol: String = "query"): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(graft.operators.Dedup.tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    // persisted: qterms is read twice (the qset driver fit below and the
    // broadcast build of the contrib join) — unpersisted, each re-scans and
    // re-tokenizes the query corpus (small by definition, so the cache is
    // tiny; Dedup honest-lifetime contract: lives until session end)
    val qterms = queries.select(col(qIdCol).as("query_id"),
        explode(array_distinct(graft.operators.Dedup.tokens(col(qTextCol)))).as("term"))
      .where(length(col("term")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded driver fits (queries are small by definition):
    // (1) distinct query-term set; (2) N + total token count; (3) per-term
    // df = docs containing the term — ≤ |distinct query terms| rows
    val qset = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (qset.isEmpty)
      return queries.select(col(qIdCol).as("query_id")).limit(0)
        .withColumn("doc_id", lit(null).cast("long"))
        .withColumn("score", lit(null).cast("double"))
        .withColumn("rnk", lit(null).cast("int"))
    // ONE corpus pass for every global stat (was two: a tok_total count and
    // a countDistinct df job, each re-tokenizing the corpus — guide §1.2,
    // don't compute things twice): per doc, its non-empty token count (dl)
    // and the distinct query terms it contains (array_intersect is set-
    // valued, so term presence needs no distinct aggregate); posexplode_outer
    // keeps term-free docs as one null-term row, so summing dl only at
    // pos 0/null counts each doc once. ≤ |qset|+1 groups reach the driver.
    val qLit = array(qset.map(lit): _*)
    val statRows = docs.select(
        size(filter(graft.operators.Dedup.tokens(col(textCol)),
          t => length(t) > 0)).cast("long").as("dl"),
        array_intersect(graft.operators.Dedup.tokens(col(textCol)), qLit).as("qts"))
      .select(col("dl"), posexplode_outer(col("qts")).as(Seq("pos", "term")))
      .groupBy("term")
      // every doc contributes exactly one pos∈{0, null} row (posexplode_outer
      // keeps empty/null-qts docs as a single null row), so the same rows
      // that carry the dl sum also count N — no separate count job
      .agg(sum(when(col("pos").isNull || col("pos") === 0, col("dl"))).as("dl_part"),
        count(when(col("pos").isNull || col("pos") === 0, lit(1))).as("n_part"),
        count(col("term")).as("df"))
      .collect()
    val nDocs = statRows.map(_.getLong(2)).sum
    val tokTotal = statRows.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
    val avgdl = tokTotal.toDouble / nDocs.toDouble
    val dfm: Map[String, Double] = statRows.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(3).toDouble).toMap
    val idfm: Map[String, Double] = dfm.map { case (t, dfv) =>
      t -> StrictMath.log(1.0 + (nDocs.toDouble - dfv + 0.5) / (dfv + 0.5)) }
    // the single corpus pass of the returned plan: per-doc (dl, sorted
    // query-term occurrences); docs with no query term never leave the map
    // side with more than their (doc_id, dl, empty) row, and are dropped.
    // Scan-local HOF forms were tried and measured WORSE (3-4×): a lambda
    // with isInCollection is not rewritten to an InSet hash lookup (every
    // token pays an O(|qset|) scan), and a two-step array_intersect +
    // array_contains form gets its intersect inlined into the lambda by
    // CollapseProject (per-token set builds). The row-level isInCollection
    // below does get the InSet rewrite, and the token explode feeds a
    // map-side-combined aggregate.
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        sort_array(collect_list(when(col("term").isInCollection(qset), col("term"))))
          .as("qtoks"))
      .where(size(col("qtoks")) > 0)
    // tf per (doc, query term): candidate-only rows; the idf map is a plan
    // literal (bounded), query_id fan-out attaches by broadcast equi-join
    val tf = perDoc.select(col("doc_id"), col("dl"), explode(col("qtoks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val contrib = tf.join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term"),
        (element_at(typedLit(idfm), col("term")) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))).as("w"))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("ws"))
      .select(col("query_id"), col("doc_id"),
        aggregate(col("ws"), lit(0.0), (acc, x) => acc + x.getField("w")).as("score"))
    scored.groupBy("query_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.key").as("doc_id"),
        col("e.score").as("score"), col("e.rnk").as("rnk"))
  }

  /**
   * C4 rule pack (Raffel et al. 2020): the heuristic cleaning stack behind
   * the "Colossal Clean Crawled Corpus" — keep only lines ending in terminal
   * punctuation with >= `minWords` words and no "javascript", and flag pages
   * containing "lorem ipsum" or a curly brace (C4 drops those pages whole).
   * One struct column from the single-pass codegen `c4_clean` kernel
   * ([[org.apache.spark.sql.graft.C4Kernel]] — the declarative twin needs an
   * interpreted higher-order `filter` plus ~5 regexp re-walks of the text),
   * expanded here plus an approximate sentence count (terminal-punctuation
   * occurrences in the ORIGINAL text — C4's "fewer than 3 sentences" page
   * rule). Scan-local, zero shuffle; null text == "". DuckDB-oracle-checked
   * (q69) on injected line structure.
   */
  def c4Columns(textCol: Column, minWords: Int = 3): Seq[Column] = {
    val t = coalesce(textCol, lit(""))
    val c = org.apache.spark.sql.graft.TextFunctionsImpl.c4_clean(t, lit(minWords))
    Seq(c.getField("clean_text").as("clean_text"),
      c.getField("n_lines").as("n_lines"),
      c.getField("n_kept").as("n_kept"),
      c.getField("n_terminal").as("n_terminal"),
      c.getField("n_short").as("n_short"),
      c.getField("has_lorem").as("has_lorem"),
      c.getField("has_brace").as("has_brace"),
      regexp_count(t, lit("[.!?]")).as("n_sentences"))
  }

  /** Just the C4-cleaned text (kept lines re-joined) — the rewrite stage. */
  def c4CleanText(textCol: Column, minWords: Int = 3): Column =
    org.apache.spark.sql.graft.TextFunctionsImpl
      .c4_clean(coalesce(textCol, lit("")), lit(minWords)).getField("clean_text")

  /**
   * CCNet-style pre-LM text normalization (the cleanup every dedup/LM-scoring
   * stage wants to share so signatures agree across mirrors): NFD accent
   * strip → per-codepoint simple lowercase → control/whitespace runs collapse
   * to one space → trim. One pass of the codegen `norm_text` kernel
   * ([[org.apache.spark.sql.graft.NormTextKernel]]); scan-local, zero
   * shuffle; null text == "". Cross-engine parity with DuckDB's
   * utf8proc-backed `strip_accents` + `lower` is proven on injected Latin
   * accents by the q76 oracle; non-Latin casing context (İ, final sigma) is
   * out of contract.
   */
  def normText(textCol: Column): Column =
    org.apache.spark.sql.graft.TextFunctionsImpl.norm_text(coalesce(textCol, lit("")))

  /** C4 page-level drop predicate: lorem-ipsum / curly-brace / too few
    * sentences (strictly fewer than `minSentences`). */
  def c4PageDrop(textCol: Column, minSentences: Int = 3): Column = {
    val t = coalesce(textCol, lit(""))
    val c = org.apache.spark.sql.graft.TextFunctionsImpl.c4_clean(t, lit(3))
    c.getField("has_lorem") || c.getField("has_brace") ||
      regexp_count(t, lit("[.!?]")) < lit(minSentences)
  }

  /**
   * One-pass per-source corpus report — the curation dashboard every
   * pretraining run starts from: document/token totals, near-exact distinct
   * content fingerprints (HLL — register-exact partition invariance, so the
   * report is byte-stable across cluster sizes), token-count spread, and
   * the predicted-language census. ONE map-side-combined groupBy over the
   * scan; every aggregate is partition-order INVARIANT (sums of integers,
   * min/max, HLL max-merge, exact sort-based percentiles) — deliberately no
   * double sums and no KLL/MG here, whose outputs are processing-order
   * dependent (swap `percentile` → `kll_quantiles` at the 100-TB scale
   * where an exact per-group sort is not worth it and run-boundary
   * reproducibility is relaxed). Not DuckDB-oracled (HLL has no SQL
   * counterpart); rides the determinism probe as g14.
   */
  def corpusReport(docs: DataFrame, srcCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val toks = size(split(coalesce(col(textCol), lit("")), " ")).cast("long")
    docs.select(col(srcCol).as("source"), toks.as("toks"),
        fingerprint(col(textCol)).as("fp"), langId(col(textCol)).as("lang_pred"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        org.apache.spark.sql.graft.TextFunctionsImpl.hll_count(col("fp"), 12)
          .as("distinct_fp"),
        min(col("toks")).as("tok_min"),
        expr("percentile(toks, array(0.5, 0.9, 0.99))").as("tok_pcts"),
        max(col("toks")).as("tok_max"),
        countDistinct(col("lang_pred")).as("n_langs"))
      // one array-percentile buffer per group, projected to scalar columns:
      // downstream consumers (BI sinks, the driver's pandas gate) sort rows
      // by column value, which an array cell breaks
      .select(col("source"), col("n_docs"), col("n_tokens"), col("distinct_fp"),
        col("tok_min"),
        element_at(col("tok_pcts"), 1).as("tok_p50"),
        element_at(col("tok_pcts"), 2).as("tok_p90"),
        element_at(col("tok_pcts"), 3).as("tok_p99"),
        col("tok_max"), col("n_langs"))
  }

  /**
   * Sliding-window document chunking — the context-window prep step that
   * turns long documents into fixed-size token windows (stride =
   * `chunkTokens - overlap`) before packing (q55) or embedding: one row per
   * (doc, window) with the window's text and token count. Token = a
   * space-separated slot (both engines split identically, so an empty doc
   * yields ONE empty chunk — documented, not filtered, to keep the q79
   * oracle slot-exact). Scan-local: split → `sequence` of starts →
   * `posexplode` → `slice`/`array_join`, all codegen built-ins; the 1→N
   * fan-out happens in the scan stage, nothing shuffles. A final window
   * shorter than `chunkTokens` is emitted as-is (standard sliding-window
   * semantics); `chunk_idx` numbers windows from 0 in document order.
   */
  def chunkDocs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                chunkTokens: Int = 128, overlap: Int = 0): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): got overlap=$overlap chunkTokens=$chunkTokens")
    val step = chunkTokens - overlap
    val win = slice(col("w"), col("col") + 1, lit(chunkTokens))
    docs.select(col(idCol), split(coalesce(col(textCol), lit("")), " ").as("w"))
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(step))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        array_join(win, " ").as("chunk_text"),
        size(win).as("n_tokens"))
  }

  /**
   * EXACT per-source quantile normalization of a score column — the
   * cross-source calibration step before mixing corpora (a raw quality
   * score of 0.6 means different things in different sources; its
   * percent-rank WITHIN the source is comparable). This form is the ORACLE
   * TWIN (q92): `percent_rank` per source is a per-group sort, fine at
   * verification scale; at 10^12 docs use [[quantileNormalizeSketch]].
   */
  def quantileNormalize(docs: DataFrame, idCol: String = "doc_id",
                        srcCol: String = "source",
                        scoreCol: String = "score"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol)).orderBy(col(scoreCol))
    docs.select(col(idCol), col(srcCol), col(scoreCol).as("score"))
      .withColumn("qnorm", percent_rank().over(w))
  }

  /**
   * Sketch-scale quantile normalization: ONE map-side-combined groupBy
   * builds a bounded per-source KLL quantile grid (`gridN`+1 points), the
   * tiny (sources × grid) table broadcasts, and each row's rank estimate
   * is a scan-local O(log grid) binary search (`grid_rank` codegen kernel).
   * No per-group sort ever happens; error ≤ grid resolution (1/gridN) +
   * the KLL rank-error bound (guarantee-tested in QuantileSketchSpec) —
   * the sketch-vs-exact gap is asserted in TextStatsSpec.
   */
  def quantileNormalizeSketch(docs: DataFrame, idCol: String = "doc_id",
                              srcCol: String = "source", scoreCol: String = "score",
                              k: Int = 200, gridN: Int = 100): DataFrame = {
    val probs = (0 to gridN).map(_.toDouble / gridN)
    val grids = docs.groupBy(srcCol)
      .agg(org.apache.spark.sql.graft.TextFunctionsImpl
        .kll_quantiles_probs(col(scoreCol), k, probs).as("grid"))
    docs.join(broadcast(grids), Seq(srcCol))
      .select(col(idCol), col(srcCol), col(scoreCol).as("score"),
        org.apache.spark.sql.graft.TextFunctionsImpl
          .grid_rank(col(scoreCol), col("grid")).as("qnorm_est"))
  }
}
