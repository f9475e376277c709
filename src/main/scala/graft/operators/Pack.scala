package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Training-sequence packing — the pretraining-data operator that fills
 * fixed-token-budget sequences with whole documents (greedy first-fit in a
 * deterministic order). At 100 TB the packing itself must be distributed:
 * documents are sharded (content-derived shard id = the parallelism unit —
 * thousands of shards on a real corpus), each shard packs INDEPENDENTLY with
 * one sequential scan in doc-id order, so the job is one shuffle
 * (repartition by shard) + a per-partition sort + a stateful linear pass.
 * No driver state, no cross-shard coordination; re-runs are byte-identical
 * (the scan order is content-derived, not partition-order).
 *
 * Greedy rule (mirrored token-for-token by q55's DuckDB recursive-CTE
 * oracle): a shard's first document opens sequence 0; each next document
 * joins the current sequence unless it would overflow `budget`, in which
 * case it opens the next sequence. Documents larger than the budget get a
 * sequence of their own (documents are never split — splitting is a
 * tokenizer-level concern, and the budget is a soft pack target).
 */
object Pack {

  final case class PackedDoc(shard: Long, doc_id: Long, n_tokens: Long, seq_id: Long)

  def sequences(docs: DataFrame, budget: Long, shards: Int = 8,
                idCol: String = "doc_id", textCol: String = "text"): Dataset[PackedDoc] = {
    require(budget >= 1 && shards >= 1, s"need budget, shards >= 1; got ($budget, $shards)")
    val spark = docs.sparkSession
    import spark.implicits._
    // total semantics for dirty corpora: a null id has no deterministic
    // shard (excluded, documented); null text counts as the empty string
    // (one token under single-space split semantics, matching q15)
    val base = docs.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        size(split(coalesce(col(textCol), lit("")), " ")).cast("long").as("n"),
        pmod(col(idCol).cast("long"), lit(shards.toLong)).as("shard"))
    // hash partitioning sends every row of one shard to exactly ONE
    // partition (several shards may share a partition — the scan resets its
    // state at each shard boundary); sortWithinPartitions adds no shuffle.
    // `n` is the tie-break for duplicate doc_ids: rows sharing (id, n) are
    // interchangeable (identical packing effect), so the OUTPUT multiset is
    // deterministic even then, and the oracle sorts by the same keys.
    base.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"), col("n"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var run = 0L
        var seq = 0L
        var first = true
        it.map { case (docId, n, shard) =>
          if (first || shard != curShard) {
            first = false; curShard = shard; seq = 0L; run = n
          } else if (run + n > budget) {
            seq += 1; run = n
          } else run += n
          PackedDoc(shard, docId, n, seq)
        }
      }
  }
}
