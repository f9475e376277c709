package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.HexGrid

/**
 * k-nearest-neighbour join against city-object centroids (BASELINE.json
 * north_star: "kNN via cell-ring expansion"). No reference counterpart exists
 * (SURVEY.md §2.3) — the reference only does bbox range queries — so semantics
 * are defined here: k nearest targets by squared Euclidean distance,
 * deterministic tie-break on target id ascending.
 *
 * Two physical paths:
 *
 *  1. [[broadcastGrid]] — targets fit in a broadcast (buildings ≤ millions):
 *     targets are bucketed into hex cells at a resolution sized to the target
 *     density; every probe expands k-rings locally until the provable stop
 *     bound. Zero shuffle on the probe side — the 10^12-row-scan shape.
 *
 *  2. [[ringJoin]] — giant target side: iterative (ring-r explode) ⋈ (targets
 *     by cell) equi-joins, accumulating candidates until every probe holds k
 *     neighbours within the ring-r guarantee radius. Each round is one
 *     shuffle-free broadcast or one shuffle join; rounds are bounded by the
 *     stop bound below.
 *
 * Stop bound: for hexagons with apothem a, two cells at hex distance h have
 * center distance ≥ √3·a·h (tight along the alternating-neighbor direction),
 * and any point lies within one circumradius 2a/√3 of its cell center, so a
 * target in a cell at hex distance ≥ h is at Euclidean distance
 * ≥ √3·a·h − 2·(2a/√3) = √3·a·(h − 4/3). Once the current k-th candidate
 * distance ≤ √3·a·(R+1 − 4/3), no cell beyond ring R can improve the result.
 * (Property-tested against the brute-force oracle in KnnJoinSpec.)
 */
object KnnJoin {

  /** Provable lower bound on distance to any target in cells at hex dist ≥ r. */
  def ringLowerBound(res: Int, r: Int): Double = {
    val a = HexGrid.apothem(res)
    math.max(0.0, math.sqrt(3.0) * a * (r - 4.0 / 3.0))
  }

  final case class Neighbor(target_id: String, d2: Double)

  /**
   * Broadcast-grid path. `targets`: (target_id, cx, cy). Output columns:
   * probe_id, target_id, d2, rnk (1-based by (d2, target_id)).
   */
  def broadcastGrid(probes: DataFrame, targets: Seq[(String, Double, Double)],
                    k: Int, res: Int = 12, maxR: Int = 64,
                    linearLimit: Int = 512): DataFrame = {
    // the index rides the plan as a reference object; the probe scan stays one
    // whole-stage-codegen span (scan → knn_matches → explode), no join, no
    // shuffle, no Encoder round-trip (see KnnIndex for the strategy split)
    val index = new KnnIndex(targets, k, res, maxR, linearLimit)
    probes
      .select(col("probe_id").cast("string").as("probe_id"),
        explode(org.apache.spark.sql.graft.GeoFunctionsImpl.knn_matches(
          col("x").cast("double"), col("y").cast("double"), index)).as("m"))
      .select(col("probe_id"), col("m.target_id").as("target_id"),
        col("m.d2").as("d2"), col("m.rnk").as("rnk"))
  }

  /**
   * Distributed ring-expansion path for huge target sides: per round r,
   * unfinished probes explode their ring-r cells and equi-join targets
   * bucketed by cell; terminate when the k-th best distance beats the ring
   * bound.
   *
   * The accumulator is pruned to the running top-k per probe after every
   * round's ranking — provably safe because d2 is static, so a candidate
   * outside the current top-k can never re-enter — and finished probes leave
   * the loop entirely (their final top-k rows move to a result block). Each
   * round's sort volume is therefore bounded by k × pending + new candidates,
   * instead of re-sorting every candidate ever seen for every probe ever
   * submitted (the O(rounds × total-candidates) shape this replaces).
   *
   * `checkpointDir`: see [[graft.core.Checkpoints]] — unset uses local
   * checkpoints (fastest; local-mode/testing), set uses reliable checkpoints
   * that survive executor loss on a real cluster.
   */
  def ringJoin(probes: DataFrame, targets: DataFrame,
               k: Int, res: Int = 12, maxR: Int = 16,
               ringsPerRound: Int = 2,
               checkpointDir: Option[String] = None): DataFrame = {
    val spark = probes.sparkSession
    graft.functions.GeoFunctions.register(spark)
    val ck = graft.core.Checkpoints.strategy(probes, checkpointDir)
    val tBase = targets.select(col("target_id").cast("string"),
      col("cx").cast("double"), col("cy").cast("double"))
      .withColumn("tcell", graft.functions.GeoFunctions.hex_encode(col("cx"), col("cy"), lit(res)))
    // Two physical regimes, chosen ONCE from the probe count (guide §3.1 —
    // pick the join strategy deliberately):
    //  - SMALL probe side (≤ spark.graft.knn.smallProbeLimit): each round
    //    BROADCASTS the exploded probe-ring cells and streams the (huge by
    //    premise) target table from an UNSHUFFLED cache — the target side
    //    is never exchanged at all, the §3.1 "broadcast the side that fits"
    //    move. A per-round row guard (pending × ring cells ≤
    //    spark.graft.knn.broadcastRowsLimit) falls back to a plain shuffle
    //    join for the rare wide-ring straggler round.
    //  - BIG probe side: the original layout — target table pre-partitioned
    //    by the per-round join key (tcell) and PERSISTED, so each round
    //    shuffles only the exploded ring cells of the still-pending probes
    //    (persist carries the partitioning through AQE where a checkpoint
    //    would not — see the PlanQualitySpec gate).
    val smallProbeLimit = graft.core.Confs.longConf(spark,
      "spark.graft.knn.smallProbeLimit", 65536L, min = 0L)
    val broadcastRowsLimit = graft.core.Confs.longConf(spark,
      "spark.graft.knn.broadcastRowsLimit", 4L << 20, min = 1L)
    val probes0 = ck(probes.select(col("probe_id").cast("string"),
      col("x").cast("double"), col("y").cast("double")))
    val nProbes0 = probes0.count()
    val smallProbes = nProbes0 <= smallProbeLimit
    val t = if (smallProbes) tBase.persist() else tBase.repartition(col("tcell")).persist()
    try {
    // candidates carry (probe_id, target_id, d2) ONLY — the probe coordinates
    // live in `pending` and would otherwise ride every ranking shuffle
    def candOf(p: DataFrame): DataFrame = p
      .select(col("probe_id"), col("target_id"),
        ((col("cx") - col("x")) * (col("cx") - col("x")) +
         (col("cy") - col("y")) * (col("cy") - col("y"))).as("d2"))
    // ranking = the bounded top-k AGGREGATE, not a row_number window: the
    // window shuffles and sorts every candidate row; the aggregate keeps a
    // k-bounded buffer per probe on the map side, so the shuffle carries
    // k-entry buffers — candidate-count-independent (see TopKAgg.scala)
    def rankTopK(cands: DataFrame): DataFrame = cands
      .groupBy("probe_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
        .knn_topk(col("d2"), col("target_id"), k).as("nn"))
      .select(col("probe_id"), explode(col("nn")).as("m"))
      .select(col("probe_id"), col("m.target_id").as("target_id"),
        col("m.d2").as("d2"), col("m.rnk").as("rnk"))
    // eager checkpoints: each round's accumulator and pending set materialize
    // ONCE and truncate lineage — a lazy checkpoint re-ran the whole round
    // chain on every action (recompute amplification across rounds)
    var pending = probes0
    // -1 keeps the empty-input flow on the original path: one (empty) round
    // still runs, so doneParts is never an empty reduce
    var nPending = if (nProbes0 == 0) -1L else nProbes0
    // acc = running top-k candidates of UNFINISHED probes only (no rnk col);
    // None before the first round, which ranks its candidates on their own
    var acc: Option[DataFrame] = None
    def withAcc(c: DataFrame): DataFrame = acc.fold(c)(_.unionByName(c))
    // finalized (probe_id, target_id, d2, rnk) blocks — checkpointed leaves
    var doneParts: List[DataFrame] = Nil
    var r = 0
    while (r <= maxR && nPending != 0) {
      // batch rings geometrically: each round costs a fixed number of jobs
      // (join, checkpoint, rank, anti-join, count) regardless of data volume,
      // so the barrier count — the dominant cost once candidates are pruned —
      // must not grow linearly in maxR. Round spans double (0-1, 2-4, 5-10,
      // 11-22, …): dense-area probes finish in the cheap early rounds, and
      // far-field stragglers get their rings in O(log maxR) rounds. Worst-
      // case candidate overshoot of a doubled span is a constant factor
      // (area of rings r..2r ≈ 3r² vs r² needed), paid only by the few
      // probes still pending at large r. (A one-shot jump to maxR was tried
      // and measured WORSE: it bounds explode volume but not candidate
      // volume — with dense targets the single round ranks tens of millions
      // of candidate rows that doubling would never have fetched.)
      val rHi = math.min(maxR, math.max(r + ringsPerRound - 1, 2 * r))
      val ringCells = flatten(array((r to rHi).map(rr =>
        graft.functions.GeoFunctions.hex_ring(col("x"), col("y"), lit(res), lit(rr))): _*))
      // exploded rows this round = pending × Σ ring sizes (ring 0 = 1 cell,
      // ring rr = 6·rr cells) — known exactly, so the broadcast guard needs
      // no size estimate
      val cellsThisRound = (r to rHi).map(rr => if (rr == 0) 1L else 6L * rr).sum
      val exploded = pending.withColumn("pcell", explode(ringCells))
      val probeSide =
        if (smallProbes && (if (nPending < 0) 0L else nPending) * cellsThisRound <= broadcastRowsLimit)
          broadcast(exploded)
        else exploded
      val cand = candOf(probeSide.join(t, col("pcell") === col("tcell")))
      // rank old top-k ∪ new candidates, keep top-k — the only rows a later
      // round could ever emit (d2 never changes; candidates only accumulate)
      val topk = ck(rankTopK(withAcc(cand)))
      val bound = ringLowerBound(res, rHi + 1)
      val doneProbes = topk.where(col("rnk") === k && sqrt(col("d2")) < bound)
        .select(col("probe_id").as("done_id"))
      // finished probes exit the loop: their top-k (incl. rnk) is final —
      // no later ring can beat the bound — and never re-sorts again
      doneParts ::= topk.join(doneProbes, col("probe_id") === col("done_id"), "left_semi")
      acc = Some(topk.join(doneProbes, col("probe_id") === col("done_id"), "left_anti").drop("rnk"))
      pending = ck(pending.join(doneProbes, col("probe_id") === col("done_id"), "left_anti"))
      nPending = pending.count()
      r = rHi + 1
    }
    if (nPending > 0) {
      // ring budget exhausted with probes still open (far-field stragglers —
      // by construction a small set): exact fallback join instead of a
      // silently truncated top-k; distinct() drops the re-met candidates
      // (duplicate rows are identical in every column, scalars only).
      // Materialize the tail ranking eagerly so the returned plan references
      // only checkpointed blocks — the finally below can then release the
      // (huge by premise) persisted target table on every exit path
      val openRows = withAcc(candOf(pending.crossJoin(t))).distinct()
      val tail = ck(rankTopK(openRows))
      doneParts.foldLeft(tail)(_ unionByName _)
    } else {
      // every probe finished through the ring bound: acc is empty — union
      // the checkpointed result blocks directly, no tail ranking stage
      doneParts.reduce(_ unionByName _)
    }
    } finally t.unpersist(blocking = false) // result = checkpointed blocks only
  }

  /** Driver-side brute-force oracle (tests). */
  def bruteForce(probes: Seq[(String, Double, Double)],
                 targets: Seq[(String, Double, Double)], k: Int): Seq[(String, String, Double, Int)] =
    probes.flatMap { case (pid, x, y) =>
      targets.map { case (tid, cx, cy) =>
        val dx = cx - x; val dy = cy - y
        (tid, dx * dx + dy * dy)
      }.sortBy(c => (c._2, c._1)).take(k).zipWithIndex.map {
        case ((tid, d2), i) => (pid, tid, d2, i + 1)
      }
    }
}
