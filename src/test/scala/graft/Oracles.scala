package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.stopwords
import graft.operators.Pack.PackedDoc

/**
 * Driver-side and declarative oracles the specs compare the engine against.
 * None of them runs in a workload: brute-force forms are O(n²) or
 * single-threaded, and the declarative column forms are the formulations the
 * codegen kernels replaced.
 */
object Oracles {

  /** Exact all-pairs n-gram Jaccard (test oracle; O(n²), small scale only). */
  def bruteForceJaccard(docs: Seq[(Long, String)], minJaccard: Double): Set[(Long, Long, Double)] = {
    val tok = docs.map { case (id, t) => id -> t.toLowerCase.split(" ").distinct.toSet }
    (for {
      (ia, sa) <- tok; (ib, sb) <- tok if ia < ib
      jac = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if jac >= minJaccard
    } yield (ia, ib, jac)).toSet
  }

  /** Driver-side oracle for tests: greedy pack per shard in doc-id order. */
  def brutePack(docs: Seq[(Long, Long)], budget: Long, shards: Int): Seq[PackedDoc] =
    docs.map { case (id, n) => (math.floorMod(id, shards.toLong), id, n) }
      .groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
        var run = 0L; var seq = 0L; var first = true
        rows.sortBy(_._2).map { case (_, id, n) =>
          if (first) { first = false; run = n }
          else if (run + n > budget) { seq += 1; run = n }
          else run += n
          PackedDoc(shard, id, n, seq)
        }
      }

  /** Driver-side Dijkstra oracle (tests). */
  def bruteSssp(edges: Seq[(Long, Long, Long)], source: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, xs) => s -> xs.map(t => (t._2, t._3)) }
    val dist = scala.collection.mutable.Map(source -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, source))(
      Ordering.by[(Long, Long), Long](_._1).reverse)
    while (pq.nonEmpty) {
      val (d, n) = pq.dequeue()
      if (dist(n) == d)
        adj.getOrElse(n, Seq.empty).foreach { case (m, w) =>
          if (dist.get(m).forall(_ > d + w)) { dist(m) = d + w; pq.enqueue((d + w, m)) }
        }
    }
    dist.toMap
  }

  /** Driver-side brute-force oracle (tests). */
  def bruteBfs(edges: Seq[(Long, Long)], source: Long, maxDepth: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    var dist = Map(source -> 0)
    var frontier = Set(source)
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
        .filterNot(dist.contains)
      next.foreach(n => dist += n -> (d + 1))
      frontier = next
      d += 1
    }
    dist
  }

  /** Driver-side min-parent shortest-path oracle (tests): the unique path the
    * min-parent tree induces, or empty if unreachable within maxDepth. */
  def bruteShortestPath(edges: Seq[(Long, Long)], source: Long, target: Long,
                        maxDepth: Int): Seq[Long] = {
    val dist = bruteBfs(edges, source, maxDepth)
    if (!dist.contains(target)) return Seq.empty
    val preds = edges.filter(e => dist.contains(e._2)).groupBy(_._2).map { case (dst, xs) =>
      dst -> xs.map(_._1).filter(s => dist.get(s).contains(dist(dst) - 1))
    }
    var path = List(target)
    while (path.head != source) path ::= preds(path.head).min
    path
  }

  /** Driver-side cosine top-k oracle for `AnnSearch`. */
  def annBruteForce(table: Seq[(Long, Array[Float])], probes: Seq[(Long, Array[Float])],
                    k: Int): Set[(Long, Long, Int)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0.0) 0.0 else d / n
    }
    probes.flatMap { case (pid, pv) =>
      table.map { case (vid, v) => (vid, cos(v, pv)) }
        .sortBy { case (vid, c) => (-c, vid) }.take(k).zipWithIndex
        .map { case ((vid, _), i) => (pid, vid, i + 1) }
    }.toSet
  }

  /** Driver-side backward as-of oracle for `AsOfJoin`. */
  def asOfBruteForce[K](left: Seq[(K, Long, String)], right: Seq[(K, Long, Double)]):
      Seq[(K, Long, String, Option[(Long, Double)])] =
    left.map { case (k, ts, tag) =>
      val m = right.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(_._2).lastOption.map(r => (r._2, r._3))
      (k, ts, tag, m)
    }

  /** Declarative reference twin of the `c4_clean` kernel (HOF filter +
    * regexes) — kept as the semantics oracle in tests, not for the scan. */
  def c4CleanDeclarative(textCol: Column, minWords: Int = 3): Column = {
    val lines = split(coalesce(textCol, lit("")), "\n")
    val wordsOf = (l: Column) => size(filter(split(l, " "), w => w =!= ""))
    array_join(filter(lines, l =>
      l.rlike("[.!?\"]$") && wordsOf(l) >= minWords &&
        !contains(lower(l), lit("javascript"))), "\n")
  }

  /** Fraction of a language's stopwords present among the doc's tokens. */
  def stopwordHits(toks: Column, lang: String): Column = {
    val hits = stopwords(lang).map(w => when(array_contains(toks, w), 1).otherwise(0))
    hits.reduce[Column](_ + _).cast("double") / lit(stopwords(lang).size.toDouble)
  }

  /** Declarative reference formulation of [[langId]] (see its scaladoc). */
  def langIdDeclarative(textCol: Column): Column = {
    val toks = split(lower(textCol), "\\s+")
    val cjk = length(regexp_replace(textCol, "[^\\u4e00-\\u9fff]", "")).cast("double") /
      greatest(length(textCol).cast("double"), lit(1.0))
    val scored = Seq("en", "de", "fr", "es").map(l => struct(stopwordHits(toks, l).as("s"), lit(l).as("l")))
    val best = array_max(array(scored: _*))
    when(cjk > 0.2, lit("zh"))
      .when(best.getField("s") > 0.0, best.getField("l"))
      .otherwise(lit("und"))
  }
}
