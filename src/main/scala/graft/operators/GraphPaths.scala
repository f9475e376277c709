package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Ad-hoc graph-path diagnostics over an edge table — the relational
 * restatement of the reference's Cypher shortest-path / reachability
 * utilities (`GraphUtils.java:280-344`). The reference asks Neo4j for paths
 * between two mapped nodes; here the graph IS a DataFrame of (src, dst)
 * edges (e.g. the resolved XLink table), and paths come from iterative
 * frontier expansion:
 *
 *   frontier_{d+1} = (frontier_d ⋈ edges) \ visited
 *
 * Each round is one equi-join shuffle on the node key (the standard
 * distributed BFS shape — what GraphX/Pregel does under the hood, without
 * dropping to RDDs); the frontier and visited sets hold (node, dist, pred)
 * scalars only and are eagerly checkpointed, so lineage stays O(1) per
 * round. Rounds are bounded by `maxDepth`.
 *
 * `checkpointDir` on the iterative entry points: see
 * [[graft.core.Checkpoints]] — unset uses local checkpoints (fastest;
 * local-mode/testing), set uses reliable checkpoints that survive executor
 * loss on a real cluster.
 */
object GraphPaths {

  /** The small-graph fast paths' edge threshold (see [[bfsWithPred]]; also
    * `Dedup.connectedComponentsWithRounds`): at most this many edges are a
    * bounded driver fit. */
  private[operators] def smallGraphMaxEdges(spark: SparkSession): Long =
    graft.core.Confs.longConf(spark, "spark.graft.graph.smallGraphMaxEdges", 1L << 20, min = 0L)

  /**
   * BFS levels + deterministic predecessor: every node reachable from
   * `source` within `maxDepth` hops, with its minimal hop distance and the
   * MINIMUM parent node id among its distance-(d−1) neighbours (`pred` is
   * null for the source). The min-parent rule makes the shortest-path tree —
   * and therefore [[shortestPath]]'s reconstruction — deterministic and
   * ANSI-SQL-replicable (q41's DuckDB oracle applies the identical rule).
   * Output columns (node: long, dist: int, pred: long).
   */
  def bfsWithPred(edges: DataFrame, source: Long, maxDepth: Int,
                  checkpointDir: Option[String] = None,
                  stopAt: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Small-graph fast path (the connectedComponents threshold pattern): a
    // BFS round costs 2-3 cluster barriers; when the edge table is at most
    // `spark.graft.graph.smallGraphMaxEdges` rows (default 2^20 — ≤16 MB of
    // longs, a bounded driver fit; 0 disables) one driver pass replays the
    // EXACT distributed round semantics (same frontier rounds, same
    // min-parent rule, same stopAt early exit) and the levels return as a
    // local relation, so downstream joins broadcast. Above the threshold
    // (billion-edge XLink graphs) the distributed loop below is unchanged.
    // GraphPathsSpec pins both paths row-identical.
    // null-keyed edges are dropped up front: the distributed equi-join below
    // ignores them identically, and the tuple encoder would reject them at
    // collect. ONE bounded collect serves as both the size probe and the
    // fast path's input.
    val eNarrow = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    graft.core.Regime.collectUpTo(eNarrow.as[(Long, Long)], smallGraphMaxEdges(spark)) match {
      case Some(es) =>
        return bruteBfsRounds(es.toSeq, source, maxDepth, stopAt).toDF("node", "dist", "pred")
      case None =>
    }
    val ck = graft.core.Checkpoints.strategy(edges, checkpointDir)
    // materialize the edge table ONCE, pre-partitioned by the per-round join
    // key (src) and PERSISTED — the cached layout satisfies every round's
    // join distribution, so only the small frontier shuffles per round
    // instead of re-exchanging the full edge table each iteration. (persist,
    // not checkpoint, carries the partitioning: under AQE a checkpointed
    // LogicalRDD reports unknown partitioning — see the PlanQualitySpec gate)
    val e = ck(edges.select(col("src").cast("long"), col("dst").cast("long")))
      .repartition(col("src")).persist()
    try {
    var visited = ck(Seq(source).toDF("node")
      .withColumn("dist", lit(0)).withColumn("pred", lit(null).cast("long")))
    var frontier = visited
    var d = 0
    var frontierN = 1L
    var found = stopAt.contains(source)
    while (d < maxDepth && frontierN > 0 && !found) {
      val next = ck(frontier.join(e, frontier("node") === e("src"))
        .groupBy(e("dst").as("node")).agg(min(e("src")).as("pred"))
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(d + 1).as("dist"), col("pred")))
      // ONE action per round: frontier size + stop-node hit together — the
      // early exit (BFS first discovery = minimal dist; the full frontier of
      // the discovery round is already in `next`, so the min-parent pred of
      // the stop node is final) must not cost an extra per-round job
      val row = next.agg(count(lit(1)).as("n"),
        max(when(col("node") === stopAt.getOrElse(Long.MinValue), 1L)).as("hit")).head()
      frontierN = row.getLong(0)
      found = stopAt.isDefined && !row.isNullAt(1)
      // no checkpoint needed: a union tree whose leaves are all checkpointed
      // is recompute-free, and its depth is bounded by maxDepth
      visited = visited.unionByName(next)
      frontier = next
      d += 1
    }
    visited
    } finally e.unpersist(blocking = false) // visited = checkpointed leaves — independent
  }

  /**
   * BFS levels: every node reachable from `source` within `maxDepth` hops,
   * with its minimal hop distance. Output columns (node: long, dist: int).
   */
  def bfsLevels(edges: DataFrame, source: Long, maxDepth: Int,
                checkpointDir: Option[String] = None): DataFrame =
    bfsWithPred(edges, source, maxDepth, checkpointDir).select("node", "dist")

  /**
   * Shortest path WITH node-sequence reconstruction — parity with the
   * reference's `findShortestPath` (`GraphUtils.java:280-344`), which returns
   * the actual node/label sequence, not just the length. Output: one row per
   * path position, (pos: int, node: long), pos 0 = `source` … pos dist =
   * `target`; EMPTY if `target` is unreachable within `maxDepth`. Among equal-
   * length paths the min-parent tree picks a unique deterministic one.
   *
   * The backtrack is dist(target) ≤ maxDepth tiny joins (a 1-row walk side
   * against the checkpointed level table — Spark broadcasts the walk side),
   * not a driver-side loop over collected parents: the pred table itself can
   * be billions of rows at scale and never leaves the executors.
   */
  def shortestPath(edges: DataFrame, source: Long, target: Long, maxDepth: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // stopAt: BFS terminates the round the target first appears — its dist is
    // minimal and its min-parent is fixed by that round's full frontier, so
    // later rounds could never change the reconstruction (reference parity:
    // findShortestPath also stops at the target)
    val levels = bfsWithPred(edges, source, maxDepth, checkpointDir, stopAt = Some(target))
    val distT = levels.where(col("node") === target)
      .select("dist").collect().headOption.map(_.getInt(0))
    distT match {
      case None => Seq.empty[(Int, Long)].toDF("pos", "node")
      case Some(dT) =>
        var walk = Seq(target).toDF("cur").withColumn("path", array(lit(target)))
        for (_ <- 1 to dT) {
          walk = walk
            .join(levels.select(col("node").as("cur"), col("pred")), Seq("cur"))
            .select(col("pred").as("cur"),
              concat(array(col("pred")), col("path")).as("path"))
        }
        walk.select(posexplode(col("path")).as(Seq("pos", "node")))
    }
  }

  /**
   * Weighted single-source shortest paths (non-negative integer weights) —
   * frontier-driven distributed Bellman-Ford: each round relaxes only the
   * edges leaving nodes whose distance improved last round (the classic
   * queue-based refinement; round count ≤ the hop count of the longest
   * shortest path, so it terminates in ≤ V−1 rounds on any graph and far
   * fewer on real ones — `maxRounds` is the safety bound, and an
   * un-converged exit can only ever return distances that are too LARGE,
   * never wrong-small). Candidates take a per-target `min` BEFORE touching
   * the distance table, so the improvement join carries one row per target.
   * Weights stay LONG end to end — distances are exact integer sums, which
   * is what lets the q68 DuckDB recursive-CTE oracle hash-match bit-for-bit.
   * The edge table is repartitioned by `src` and persisted once (the
   * bfsWithPred layout-reuse pattern); per-round state is checkpointed
   * scalars. Output: (node: long, dist: long) for every reachable node.
   */
  def weightedSssp(edges: DataFrame, source: Long, maxRounds: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // small-graph driver fast path — replays the EXACT frontier-Bellman-Ford
    // round semantics (incl. the maxRounds cap, so an un-converged exit
    // matches the distributed loop too); see bfsWithPred for the threshold
    // contract. GraphPathsSpec pins both paths row-identical.
    // null handling + single bounded collect: see bfsWithPred
    val eNarrow = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
    graft.core.Regime.collectUpTo(eNarrow.as[(Long, Long, Long)], smallGraphMaxEdges(spark)) match {
      case Some(es) =>
        return bruteSsspRounds(es.toSeq, source, maxRounds).toSeq.sorted.toDF("node", "dist")
      case None =>
    }
    val ck = graft.core.Checkpoints.strategy(edges, checkpointDir)
    val e = ck(edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long")))
      .repartition(col("src")).persist()
    try {
      var dist = ck(Seq((source, 0L)).toDF("node", "dist"))
      var frontier = dist
      var improvedN = 1L
      var r = 0
      while (r < maxRounds && improvedN > 0) {
        val cand = frontier.join(e, frontier("node") === e("src"))
          .groupBy(e("dst").as("node"))
          .agg(min(frontier("dist") + e("w")).as("cand"))
        val improved = ck(cand.join(dist, Seq("node"), "left")
          .where(col("dist").isNull || col("cand") < col("dist"))
          .select(col("node"), col("cand").as("dist")))
        improvedN = improved.count()
        if (improvedN > 0)
          dist = ck(dist.unionByName(improved)
            .groupBy("node").agg(min(col("dist")).as("dist")))
        frontier = improved
        r += 1
      }
      dist
    } finally e.unpersist(blocking = false)
  }

  /** Driver-side replay of the [[bfsWithPred]] round semantics (same
    * frontier rounds, min-parent rule, and stopAt early exit) — the
    * small-graph fast path's kernel. Output sorted by (dist, node) for
    * run-to-run determinism. */
  private[operators] def bruteBfsRounds(edges: Seq[(Long, Long)], source: Long,
      maxDepth: Int, stopAt: Option[Long]): Seq[(Long, Int, Option[Long])] = {
    val adj = edges.groupBy(_._1)
    val visited = scala.collection.mutable.Map[Long, (Int, Option[Long])](
      source -> (0, None))
    var frontier: Set[Long] = Set(source)
    var d = 0
    var found = stopAt.contains(source)
    while (d < maxDepth && frontier.nonEmpty && !found) {
      val next = scala.collection.mutable.Map.empty[Long, Long] // node -> min pred
      frontier.foreach { n =>
        adj.getOrElse(n, Seq.empty).foreach { case (s, dst) =>
          if (!visited.contains(dst) && next.get(dst).forall(_ > s)) next(dst) = s
        }
      }
      found = stopAt.exists(next.contains)
      next.foreach { case (node, pred) => visited(node) = (d + 1, Some(pred)) }
      frontier = next.keySet.toSet
      d += 1
    }
    visited.toSeq.map { case (n, (dist, pred)) => (n, dist, pred) }
      .sortBy(r => (r._2, r._1))
  }

  /** Driver-side replay of the [[weightedSssp]] round semantics (frontier
    * Bellman-Ford with per-target min candidates, strict improvement, and
    * the maxRounds cap) — the small-graph fast path's kernel. */
  private[operators] def bruteSsspRounds(edges: Seq[(Long, Long, Long)],
      source: Long, maxRounds: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1)
    var dist = Map(source -> 0L)
    var frontier = Map(source -> 0L)
    var r = 0
    while (r < maxRounds && frontier.nonEmpty) {
      val cand = frontier.toSeq
        .flatMap { case (n, dn) =>
          adj.getOrElse(n, Seq.empty).map { case (_, m, w) => (m, dn + w) } }
        .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).min }
      val improved = cand.filter { case (m, c) => dist.get(m).forall(_ > c) }
      dist ++= improved
      frontier = improved
      r += 1
    }
    dist
  }
}
