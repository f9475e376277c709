package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding tokenizer (Sennrich et al. 2016, the GPT-2-family
 * subword scheme) as a two-stage Spark operator — the real token accounting
 * a pretraining pipeline budgets with, upgrading the engine's
 * whitespace/regex token counts (q15) to learned subwords:
 *
 *  1. TRAIN — ONE distributed word-count pass (`explode` → hash groupBy with
 *     map-side combine → `TakeOrdered` on (count desc, word asc)) collects a
 *     BOUNDED `maxWords`-entry frequency dictionary to the driver (same
 *     bounded-fit contract as the ANN centroid fits, AnnSearch.scala): at
 *     any corpus scale only `maxWords` rows cross to the driver, and the
 *     classic merge loop runs on that dictionary, never on the corpus.
 *     Every tie (pair count, then pair lexicographic) breaks
 *     deterministically, so the merge list is byte-stable across
 *     cluster sizes and reruns.
 *  2. ENCODE — the learned merge table rides the PLAN as a reference object
 *     (`ctx.addReferenceObj`): a scan-local
 *     codegen expression applies merges rank-greedily per word. No join, no
 *     shuffle, no per-row regex — a 10^12-doc encode prices as one read.
 *
 * Unicode: words split into CODE POINTS (not UTF-16 chars) before merging;
 * text is lowercased via `UTF8String.toLowerCase` (the MinHash-kernel
 * convention — locale-free). Tokens always concatenate back to their source
 * word (merging only ever joins adjacent pieces), tested as the lossless
 * round-trip invariant.
 */
object BpeTokenizer {

  /** Ordered merge list + rank-greedy encoder. Serializable: ships to
    * executors as a plan reference object. */
  final case class BpeModel(merges: Array[(String, String)]) extends Serializable {
    @transient private lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.length * 2)
      var i = 0
      while (i < merges.length) {
        m.put(merges(i)._1 + "\u0000" + merges(i)._2, i)
        i += 1
      }
      m
    }

    private def rankOf(a: String, b: String): Int = {
      val r = rank.get(a + "\u0000" + b)
      if (r == null) Int.MaxValue else r.intValue()
    }

    /** Split a word into code-point pieces. */
    private def pieces(word: String): mutable.ArrayBuffer[String] = {
      val out = new mutable.ArrayBuffer[String](word.length)
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        val n = Character.charCount(cp)
        out += word.substring(i, i + n)
        i += n
      }
      out
    }

    /** Rank-greedy BPE: repeatedly merge the adjacent pair with the LOWEST
      * merge rank until no learned pair remains. */
    def encodeWord(word: String): Seq[String] = {
      val parts = pieces(word)
      while (parts.length > 1) {
        var best = Int.MaxValue
        var bi = -1
        var i = 0
        while (i < parts.length - 1) {
          val r = rankOf(parts(i), parts(i + 1))
          if (r < best) { best = r; bi = i }
          i += 1
        }
        if (bi < 0) return parts.toSeq
        parts(bi) = parts(bi) + parts(bi + 1)
        parts.remove(bi + 1)
      }
      parts.toSeq
    }

    /** Whitespace-pretokenized, lowercased subword stream of a document. */
    def encode(text: String): Seq[String] =
      text.split(" ").iterator.filter(_.nonEmpty).flatMap(encodeWord).toSeq

    /** Codegen entry point: lowercase via UTF8String, return ArrayData. */
    def encodeUtf8(text: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.util.ArrayData = {
      val toks = encode(text.toLowerCase.toString)
      val arr = new Array[Any](toks.length)
      var i = 0
      while (i < toks.length) {
        arr(i) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
  }

  /** Exact classic BPE training on a word-frequency dictionary (driver-side;
    * the dictionary is bounded by `train`'s maxWords). Stops early when no
    * adjacent pair occurs at least `minPairCount` times. */
  def trainOnDict(wordFreq: Seq[(String, Long)], numMerges: Int,
                  minPairCount: Long = 2L): BpeModel = {
    var words: Array[(Array[String], Long)] = wordFreq.map { case (w, c) =>
      val ps = new mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i); val n = Character.charCount(cp)
        ps += w.substring(i, i + n); i += n
      }
      (ps.toArray, c)
    }.toArray
    val merges = new mutable.ArrayBuffer[(String, String)](numMerges)
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val counts = new mutable.HashMap[(String, String), Long]()
      for ((parts, c) <- words; i <- 0 until parts.length - 1)
        counts.updateWith((parts(i), parts(i + 1)))(o => Some(o.getOrElse(0L) + c))
      if (counts.isEmpty) exhausted = true
      else {
        // deterministic argmax: count desc, then pair lexicographic asc
        val (bp, bc) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        if (bc < minPairCount) exhausted = true
        else {
          merges += bp
          words = words.map { case (parts, c) =>
            if (parts.length < 2) (parts, c)
            else {
              val out = new mutable.ArrayBuffer[String](parts.length)
              var i = 0
              while (i < parts.length) {
                if (i < parts.length - 1 && parts(i) == bp._1 && parts(i + 1) == bp._2) {
                  out += parts(i) + parts(i + 1); i += 2
                } else { out += parts(i); i += 1 }
              }
              (out.toArray, c)
            }
          }
          step += 1
        }
      }
    }
    BpeModel(merges.toArray)
  }

  /** Distributed fit: one word-count shuffle, a bounded `TakeOrdered`
    * top-`maxWords` dictionary to the driver, then exact merge training.
    * Deterministic at any parallelism — counts are exact and both the
    * dictionary order and every merge tie-break are total orders. */
  def train(docs: DataFrame, textCol: String = "text", numMerges: Int = 200,
            maxWords: Int = 10000): BpeModel = {
    val dict = docs
      .select(explode(split(lower(coalesce(col(textCol), lit(""))), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    trainOnDict(dict, numMerges)
  }

  /** Scan-local codegen subword stream: array<string> of BPE tokens. */
  def encodeTokens(model: BpeModel, text: Column): Column =
    org.apache.spark.sql.graft.TextFunctionsImpl.bpe_encode(
      coalesce(text, lit("")), model)
}
