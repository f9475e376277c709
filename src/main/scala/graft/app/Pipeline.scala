package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Footprint
import graft.operators.{KnnIndex, PipJoin, PlanIndex}
import graft.sources.{IceLite, LocalFs}

/**
 * The north-star pipeline as one spark-submit-able job (BASELINE.json
 * north_rule, end to end): geotagged image+caption rows → hex/Z cell keys →
 * point-in-polygon join against CityGML-derived footprints → kNN against
 * city-object centroids → WMTS tile assignment → resumable IceLite write
 * with per-partition lineage (rows + order-independent checksum) and an
 * independent audit.
 *
 * Scale shape (all stages verified in PlanQualitySpec on actual plans):
 *  - the image table scan prunes to (image_id, x, y) — payload bytes never
 *    flow through the join;
 *  - PIP + kNN are codegen expressions over the polygon / centroid index,
 *    which ships once per executor as a Spark broadcast
 *    ([[graft.operators.PlanIndex]]; the plan holds only the handle):
 *    map-only, no join operator, no shuffle on the 10^12-row side;
 *  - the enrich plan itself is map-only. Without curation, the exchanges of
 *    a commit are IceLite's: partition discovery's `distinct`, the staging
 *    write's hash repartition on the deterministic bucket key (also the
 *    resume/commit unit), which makes each committed bucket one data file,
 *    and the lineage and audit aggregations;
 *  - a re-run after a crash recomputes ONLY the uncommitted buckets
 *    (content-derived data ⇒ byte-stable output, TileIceSpec semantics).
 */
object Pipeline {

  /** Enriched-row plan: cell key, PIP feature, nearest centroid, tile.
    * `keepCols` carries extra upstream columns (e.g. the curation `split`)
    * through the enrichment untouched. kNN is the one nearest centroid: a
    * `KnnIndex` with k = 1 yields one rank-1 match per row (ties break on
    * target id), so no rank filter follows it.
    *
    * PIP: [[PipJoin.auto]], the one physical path — the polygon index
    * ships once per executor and `pip_matches` runs inside the scan's codegen
    * span, with no join and no shuffle, at every polygon-side size. Both
    * indexes are built once per `polys` object ([[PlanIndex.shared]]), so
    * repeated calls over one city reuse them. */
  def enrich(images: DataFrame, polys: Seq[Footprint],
             zoom: Int = 20, nBuckets: Int = 16,
             keepCols: Seq[String] = Nil): DataFrame = {
    // keyed on `polys`, not on the centroid Seq, which is new on every call
    val nn = PlanIndex.shared(images, polys, "centroid-knn")(PlanIndex.broadcast(images,
      new KnnIndex(polys.map(f => (f.feature_id, f.centroid.x, f.centroid.y)), 1)))
    val enriched = PipJoin.auto(
        images.select((Seq("image_id", "x", "y") ++ keepCols).map(col): _*), polys)
      .withColumn("cell", graft.functions.GeoFunctions.hex_encode(
        col("x"), col("y"), lit(PipJoin.DefaultRes)))
      .withColumn("tile_id", graft.functions.GeoFunctions.tile_of(
        col("x"), col("y"), lit(zoom)))
      .withColumn("nn", explode(org.apache.spark.sql.graft.GeoFunctionsImpl.knn_matches(
        col("x"), col("y"), nn)))
      .select(col("image_id") +: col("x") +: col("y") +: col("cell") +: col("tile_id") +:
        col("feature_id") +: col("nn.target_id").as("nn_id") +: col("nn.d2").as("nn_d2") +:
        keepCols.map(col): _*)
    enriched.withColumn("bucket", pmod(xxhash64(col("image_id")), lit(nBuckets)))
  }

  /**
   * Curation stages of the LLM-data pipeline, composed from the
   * independently oracle-verified pieces (q57 redaction, q58 repetition,
   * q56 decontamination, q19 LSH pairs, q36 clustering, q37 keep-best,
   * q38 split): [optional PII scrub → C4 line filter + page rules (q69) →
   * repetition gate → benchmark decontamination → corpus-wide paragraph
   * dedup (q64) → duplicate-span dedup (q66)] → near-duplicate pairs over
   * `textCol` (with `normalizeForDedup` the pair/cluster signatures are
   * computed over q76-normalized text — accent/case/whitespace-insensitive
   * clustering — while output text stays raw; with `sigCol` each pair must
   * ALSO agree within `maxHamming` on the 64-bit perceptual signature —
   * the q85 multimodal contract) → transitive
   * (threshold convention: every `max*` knob is INCLUSIVE — a row exactly at
   * the threshold is kept; only rows strictly above it are dropped)
   * clusters → keep the highest-quality row per cluster (singletons keep
   * themselves; ties break on id ascending; with `calibrateSrcCol` the
   * keeper score is the q92 per-source sketch rank, so cross-source
   * clusters compare calibrated positions, not raw scales) → attach the
   * deterministic
   * content-derived train/val/test split. Returns the surviving rows
   * (scrubbed text if `scrubPii`), plus a `split` column. Every stage is
   * the banded/scalar-shuffle shape of the underlying operators — nothing
   * here adds an all-pairs join or a vector/text-bloated shuffle.
   */
  def curate(rows: DataFrame, idCol: String = "image_id", textCol: String = "caption",
             minJaccard: Double = 0.5,
             scrubPii: Boolean = false,
             c4MinWords: Option[Int] = None,
             c4PageRules: Boolean = false,
             maxRepetition: Double = 1.0,
             maxDupLineFrac: Option[Double] = None,
             maxSymbolRatio: Option[Double] = None,
             evalDocs: Option[DataFrame] = None,
             maxContamination: Double = 0.2,
             exactDecontamination: Boolean = false,
             paragraphDedup: Boolean = false,
             spanDedupK: Option[Int] = None,
             normalizeForDedup: Boolean = false,
             sigCol: Option[String] = None,
             maxHamming: Int = 6,
             calibrateSrcCol: Option[String] = None): DataFrame = {
    // optional upstream gates, in standard pipeline order:
    // 1. PII scrub FIRST — redacted text is what every later stage (and the
    //    training set) sees; 2. repetition gate (scan-local, zero shuffle);
    // 3. benchmark decontamination (broadcast eval shingles) — all three
    //    content-derived, so crash/rerun byte-stability is preserved
    val scrubbed =
      if (scrubPii)
        rows.withColumn(textCol, graft.functions.TextFunctions.redactPii(col(textCol)))
      else rows
    // optional C4 stack (q69 pack), in the paper's order and both scan-local:
    // line-filter REWRITE first (only clean lines feed every later stage),
    // then the page-level drops (lorem-ipsum / curly-brace / < 3 sentences)
    // on the rewritten text — C4 counts sentences on the retained lines
    val c4Lined = c4MinWords match {
      case Some(mw) => scrubbed.withColumn(textCol,
        graft.functions.TextFunctions.c4CleanText(col(textCol), mw))
      case None => scrubbed
    }
    val c4Gated =
      if (c4PageRules)
        c4Lined.where(!graft.functions.TextFunctions.c4PageDrop(col(textCol)))
      else c4Lined
    val repGated0 =
      if (maxRepetition < 1.0)
        c4Gated.where(
          graft.functions.TextFunctions.repetitionFrac(col(textCol)) <= maxRepetition)
      else c4Gated
    // optional Gopher scan-local rules (q60 pack) — same inclusive-threshold
    // convention; each adds only a codegen'd filter on the scan, no shuffle
    val dupGated = maxDupLineFrac match {
      case Some(m) => repGated0.where(
        graft.functions.TextFunctions.dupLineFrac(col(textCol)) <= m)
      case None => repGated0
    }
    val repGated = maxSymbolRatio match {
      case Some(m) => dupGated.where(
        graft.functions.TextFunctions.symbolRatio(col(textCol)) <= m)
      case None => dupGated
    }
    val gated = evalDocs match {
      case Some(ev) =>
        // the eval side must see the SAME normalization as the training
        // side: with scrubPii on, an eval passage containing PII would
        // otherwise never match its redacted training copy and the
        // contaminated doc would slip through
        val evNorm =
          if (scrubPii)
            ev.withColumn(textCol, graft.functions.TextFunctions.redactPii(col(textCol)))
          else ev
        // two standard leakage checks, caller's choice: n-gram overlap
        // fraction vs `maxContamination` (q56), or exact-substring — ANY
        // eval passage occurring verbatim drops the doc (q62)
        val clean =
          if (exactDecontamination)
            graft.operators.Dedup.contaminationExact(repGated, evNorm, idCol, textCol)
              .where(!col("contaminated")).select(col(idCol))
          else
            graft.operators.Dedup.contamination(repGated, evNorm, idCol, textCol)
              .where(col("frac") <= maxContamination).select(col(idCol))
        repGated.join(clean, Seq(idCol), "left_semi")
      case None => repGated
    }
    // optional corpus-wide TEXT-REWRITING dedup stages (after the gates —
    // they see scrubbed/gated text; before near-dup clustering — clustering
    // sees boilerplate-free text, so shared footers can no longer glue
    // unrelated docs into one cluster). Each returns (id, rewritten text);
    // the rewrite re-attaches by one id equi-join. Both are content-derived,
    // so crash/rerun byte-stability is preserved.
    def applyRewrite(df: DataFrame, rewritten: DataFrame): DataFrame =
      df.drop(textCol).join(rewritten, Seq(idCol))
    val paraDeduped =
      if (paragraphDedup)
        applyRewrite(gated, graft.operators.Dedup.paragraphDedup(
          gated.select(col(idCol), col(textCol)), idCol, textCol)
          .select(col(idCol), col(textCol)))
      else gated
    val spanDeduped = spanDedupK match {
      case Some(kk) =>
        applyRewrite(paraDeduped, graft.operators.Dedup.spanDedup(
          paraDeduped.select(col(idCol), col(textCol)), idCol, textCol, kk)
          .select(col(idCol), col(textCol)))
      case None => paraDeduped
    }
    val rowsIn = spanDeduped
    val docs = rowsIn.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // optional CCNet-style signature normalization (the q76 kernel):
    // near-dup CANDIDATE GENERATION sees accent/case/whitespace-normalized
    // text, so mirrored copies with cosmetic differences still land in one
    // cluster — while the output text and the quality score that picks the
    // keeper stay raw. Scan-local rewrite, content-derived → byte-stable.
    val sigDocs =
      if (normalizeForDedup)
        docs.withColumn("text", graft.functions.TextFunctions.normText(col("text")))
      else docs
    // with `sigCol` (the input table's phash, q85 shape) the near-dup edge
    // requires BOTH modalities: caption-LSH candidates verified within
    // `maxHamming` on the 64-bit perceptual signature — recaptioned images
    // and coincidentally same-caption distinct photos no longer merge
    val pairs = (sigCol match {
      case Some(sc) =>
        graft.operators.Dedup.multimodalDupPairs(
          sigDocs.join(rowsIn.select(col(idCol).as("doc_id"), col(sc).as("sig")), "doc_id"),
          "doc_id", "text", "sig", minJaccard = minJaccard, maxHamming = maxHamming)
      case None =>
        graft.operators.Dedup.lshPairs(sigDocs, minJaccard = minJaccard)
    }).select(col("doc_a").as("a"), col("doc_b").as("b"))
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    // coalesce: topk_by skips null-score rows, but a null-text doc that is
    // its own cluster must still keep itself (the window form kept it)
    val rawQuality = docs.select(col("doc_id"),
      coalesce(graft.functions.TextFunctions.qualityColumns(col("text")).last,
        lit(Double.NegativeInfinity)).as("quality"))
    // with `calibrateSrcCol` the keeper score is the PER-SOURCE rank of the
    // raw quality (q92 sketch path — broadcast KLL grid, no per-source
    // sort): when a cluster spans sources, "best" compares calibrated
    // positions, not raw scores whose scales differ per source
    val quality = calibrateSrcCol match {
      case Some(sc) =>
        graft.functions.TextFunctions.quantileNormalizeSketch(
          rawQuality.join(rowsIn.select(col(idCol).as("doc_id"), col(sc).as("src")),
            "doc_id"),
          idCol = "doc_id", srcCol = "src", scoreCol = "quality")
          .select(col("doc_id"), col("qnorm_est").as("quality"))
      case None => rawQuality
    }
    val labeled = quality.join(cc, Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("root"), col("doc_id")))
    // per-cluster argmax (quality desc, id asc) via the 1-bounded topk_by
    // aggregate — map-side combine, no per-root shuffle+sort of every member
    // of a template-spam mega-cluster (q37's shape; window form = oracle twin)
    val keepers = labeled.groupBy("root")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        col("quality"), col("doc_id"), 1).as("top"))
      .select(element_at(col("top"), 1).getField("key").as(idCol))
    rowsIn.join(keepers, Seq(idCol), "left_semi")
      .withColumn("split", graft.functions.TextFunctions.hashSplit(col(idCol)))
  }

  /** Run end to end; returns (written, skipped, audit ok-count). With
    * `curate = true` the caption near-dup curation (dedup → keep-best →
    * split, [[curate]] with its defaults) runs before enrichment, so the
    * whole LLM-data path is one resumable job: a crash/rerun recomputes only
    * uncommitted buckets and the curated content (keepers AND split values)
    * is byte-stable. */
  def run(spark: SparkSession, imagesDir: String, polys: Seq[Footprint],
          outTable: String, zoom: Int = 20, nBuckets: Int = 16,
          curate: Boolean = false): (Int, Int, Int) = {
    val images = spark.read.parquet(imagesDir)
    val (input, keep) =
      if (curate) (this.curate(images), Seq("split")) else (images, Nil)
    val enriched = enrich(input, polys, zoom = zoom, nBuckets = nBuckets, keepCols = keep)
    val (written, skipped) = IceLite.writeResumable(enriched, outTable, "bucket")
    val audit = IceLite.verifyLineage(spark, outTable, "bucket")
    (written.size, skipped.size, audit.count(_._2))
  }

  def main(args: Array[String]): Unit = {
    val imagesDir = args.headOption.getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft_pipeline_images")
    val outTable = if (args.length > 1) args(1)
      else s"${sys.props("java.io.tmpdir")}/graft_pipeline_out/enriched"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (!new java.io.File(s"$imagesDir/_SUCCESS").exists()) {
      graft.sources.ImageGen.table(spark, 200000, 32)
        .write.mode("overwrite").options(LocalFs.writeOptions).parquet(imagesDir)
    }
    val (w, s, ok) = run(spark, imagesDir, graft.Bench.benchPolygons, outTable)
    println(s"""{"pipeline":"pip+knn+tiles->icelite","written":$w,"skipped":$s,"audit_ok":$ok}""")
    spark.stop()
  }
}
