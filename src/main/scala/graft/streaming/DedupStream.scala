package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * Streaming near-duplicate CANDIDATE detection — the incremental face of the
 * batch MinHash-LSH chain (`Dedup.lshPairs` → q19): documents arrive as a
 * stream, and each new document immediately emits candidate pairs against
 * every earlier document sharing one of its signature buckets. The batch
 * pipeline answers "which duplicates exist in the corpus"; this answers
 * "is the incoming document a near-duplicate of ANYTHING seen so far" at
 * ingest time — the shape a 100 TB pipeline runs to reject duplicates
 * before paying to store/train on them.
 *
 * Scale shape:
 *  - the MinHash signature is computed PER ROW by the batch operator's own
 *    band buckets (`Dedup.md5SliceBuckets`: per-band min over one md5
 *    digest's hex slices, in one codegen kernel), so streaming and batch
 *    bucket identically; no shuffle before the band explode;
 *  - state is keyed by (band, bucket) and holds ONLY doc ids, capped at
 *    `maxBucket` ids per bucket (the batch operator's frequent-shingle
 *    premise: a bucket that popular carries no discriminating signal) — so
 *    per-key state is bounded forever without a watermark;
 *  - emitted candidates are id pairs ONLY. Exact-Jaccard verification joins
 *    text back in batch downstream (same verify as `Dedup.lshPairs` —
 *    StreamSpec closes the loop and checks the verified set equals the
 *    batch q19 rows when no bucket overflows).
 *
 * Cap semantics vs batch: the batch job sees the whole corpus and DROPS
 * oversized buckets entirely; a stream cannot know a bucket's final size, so
 * it emits for the first `maxBucket` members and ignores later ones —
 * documented prefix semantics, identical when no bucket exceeds the cap.
 */
object DedupStream {

  val docSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  final case class BucketState(ids: List[Long])
  final case class CandidatePair(doc_a: Long, doc_b: Long, band: Int, bucket: String)

  /** `maxFilesPerTrigger`: None = let the source take everything available
    * per micro-batch (production backfill of many files proceeds at full
    * rate); Some(n) throttles — tests pass Some(1) for a deterministic
    * arrival order. The PAIR SET is order-independent below the cap either
    * way; only capped-bucket membership depends on arrival order. */
  def lshCandidates(spark: SparkSession, path: String,
                    perms: Int = 4, ngram: Int = 3,
                    maxBucket: Int = 100,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val reader0 = spark.readStream.schema(docSchema)
    val reader = maxFilesPerTrigger.fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    // the batch operator's (id, band, bucket) rows — band 0-based, so stream
    // and batch diagnostics join on band directly
    val banded = graft.operators.Dedup.md5SliceBuckets(
      reader.parquet(path).where(size(split(col("text"), " ")) >= ngram),
      "doc_id", "text", perms, ngram)
      .as[(Long, Int, String)]
    banded
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Int, String), rows: Iterator[(Long, Int, String)],
         state: GroupState[BucketState]) =>
          val seen = state.getOption.map(_.ids).getOrElse(Nil)
          var members = seen
          val out = List.newBuilder[CandidatePair]
          // sort the micro-batch's arrivals so emission order (and therefore
          // the capped-prefix membership) is deterministic under any
          // partitioning of the input files
          rows.map(_._1).toSeq.sorted.foreach { id =>
            if (members.size < maxBucket && !members.contains(id)) {
              members.foreach { old =>
                out += CandidatePair(math.min(old, id), math.max(old, id),
                  key._1, key._2)
              }
              members ::= id
            }
          }
          if (members ne seen) state.update(BucketState(members))
          out.result().iterator
      }.toDF()
  }
}
