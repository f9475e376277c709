package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CellBuckets, HexGrid}

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
 *
 * This object owns the ring expansion and its stop rule for every nearest
 * search: [[ringWalk]] is the in-task walk behind [[KnnIndex]] and
 * [[SetbackIndex]], [[ringRounds]] the distributed round loop behind
 * [[ringJoin]] and [[Setback.ringSearch]].
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
    // the index ships once per executor as a broadcast, built once per
    // targets Seq and parameters (PlanIndex.shared); the probe scan stays
    // one whole-stage-codegen span (scan → knn_matches → explode), no join,
    // no shuffle, no Encoder round-trip (see KnnIndex for the strategy split)
    val index = PlanIndex.shared(probes, targets, "knn", k, res, maxR, linearLimit)(
      PlanIndex.broadcast(probes, new KnnIndex(targets, k, res, maxR, linearLimit)))
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
   * bound (the [[ringRounds]] loop). Duplicate target rows are kept, as in
   * [[broadcastGrid]] and [[bruteForce]].
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
      // -1 on empty input: one (empty) round still runs, so the result is
      // never an empty reduce
      ringRounds(probes0, if (nProbes0 == 0) -1L else nProbes0, "probe_id", k,
        res, maxR, ringsPerRound, ck)(
        (exploded, rows) => candOf(
          (if (smallProbes && rows <= broadcastRowsLimit) broadcast(exploded) else exploded)
            .join(t, col("pcell") === col("tcell"))),
        rankTopK,
        open => candOf(open.crossJoin(t)))
    } finally t.unpersist(blocking = false) // result = checkpointed blocks only
  }

  /**
   * The in-task hex-ring walk shared by the plan-reference indexes
   * ([[KnnIndex]], [[SetbackIndex]]): hands `visit` every ordinal bucketed
   * in rings 0..`maxR` around the cell of (x, y), ring by ring, and stops
   * after ring r once `sqrt(worst()) < ringLowerBound(res, r + 1)`. `worst`
   * is the caller's current k-th best d2, +∞ while its result is not yet
   * full. Strict <: unseen ordinals are then strictly farther, so no tie
   * with the k-th best can be missed; NaN never stops the walk. Returns
   * false when `maxR` passes without stopping — the caller then owes an
   * exact fallback instead of a silently truncated result.
   */
  def ringWalk(buckets: CellBuckets, x: Double, y: Double, res: Int, maxR: Int,
               visit: Int => Unit, worst: () => Double): Boolean = {
    val c0 = HexGrid.encode(x, y, res)
    var r = 0
    while (r <= maxR) {
      val cells = if (r == 0) Array(c0) else HexGrid.ring(c0, r)
      var ci = 0
      while (ci < cells.length) {
        val cand = buckets(cells(ci))
        if (cand != null) {
          var j = 0
          while (j < cand.length) { visit(cand(j)); j += 1 }
        }
        ci += 1
      }
      if (math.sqrt(worst()) < ringLowerBound(res, r + 1)) return true
      r += 1
    }
    false
  }

  /**
   * The distributed round loop shared by [[ringJoin]] and
   * [[Setback.ringSearch]]: per round, the still-pending rows of `pending0`
   * (`idCol`, x, y) explode their next span of hex-ring cells as `pcell`,
   * `join` turns them (and their exact row count, for a broadcast guard)
   * into (`idCol`, target, d2) candidates, and `rank` keeps the running top
   * `k` per id with a 1-based `rnk`. An id whose k-th best beats the ring
   * bound is final and leaves the loop.
   *
   * The accumulator is pruned to the running top-k per id after every
   * round's ranking — provably safe because d2 is static, so a candidate
   * outside the current top-k can never re-enter — and finished ids leave
   * the loop entirely (their final top-k rows move to a result block). Each
   * round's sort volume is therefore bounded by k × pending + new candidates.
   *
   * Ids still open after `maxR` (far-field stragglers — by construction a
   * small set) are ranked against `everyTarget`'s candidates alone: the
   * accumulator is a subset of that cross product with the same d2 bits, so
   * the exact answer needs no union with it. `nPending0` is the pending
   * count when the caller already knows it, else -1 (the loop adds no job).
   * Each round's ranking and pending set are checkpointed eagerly through
   * `ck`, so the result references only checkpointed blocks.
   */
  private[operators] def ringRounds(pending0: DataFrame, nPending0: Long, idCol: String,
      k: Int, res: Int, maxR: Int, ringsPerRound: Int, ck: DataFrame => DataFrame)(
      join: (DataFrame, Long) => DataFrame, rank: DataFrame => DataFrame,
      everyTarget: DataFrame => DataFrame): DataFrame = {
    var pending = pending0
    var nPending = nPending0
    // running top-k of the still-open ids (no rnk col); None before the
    // first round, which ranks its candidates on their own
    var acc: Option[DataFrame] = None
    // finalized (idCol, target, d2, rnk) blocks — checkpointed leaves
    var doneParts: List[DataFrame] = Nil
    var r = 0
    while (r <= maxR && nPending != 0) {
      // batch rings geometrically: each round costs a fixed number of jobs
      // (join, checkpoint, rank, anti-join, count) regardless of data volume,
      // so the barrier count — the dominant cost once candidates are pruned —
      // must not grow linearly in maxR. Round spans double (0-1, 2-4, 5-10,
      // 11-22, …): dense-area ids finish in the cheap early rounds, and
      // far-field stragglers get their rings in O(log maxR) rounds. Worst-
      // case candidate overshoot of a doubled span is a constant factor
      // (area of rings r..2r ≈ 3r² vs r² needed), paid only by the few
      // ids still pending at large r. (A one-shot jump to maxR was tried
      // and measured WORSE: it bounds explode volume but not candidate
      // volume — with dense targets the single round ranks tens of millions
      // of candidate rows that doubling would never have fetched.)
      val rHi = math.min(maxR, math.max(r + ringsPerRound - 1, 2 * r))
      val ringCells = flatten(array((r to rHi).map(rr =>
        graft.functions.GeoFunctions.hex_ring(col("x"), col("y"), lit(res), lit(rr))): _*))
      // exploded rows this round = pending × Σ ring sizes (ring 0 = 1 cell,
      // ring rr = 6·rr cells) — known exactly, so no size estimate
      val rows = math.max(nPending, 0L) * (r to rHi).map(rr => if (rr == 0) 1L else 6L * rr).sum
      val cand = join(pending.withColumn("pcell", explode(ringCells)), rows)
      // rank old top-k ∪ new candidates, keep top-k — the only rows a later
      // round could ever emit (d2 never changes; candidates only accumulate)
      val topk = ck(rank(acc.fold(cand)(_.unionByName(cand))))
      val bound = ringLowerBound(res, rHi + 1)
      val done = topk.where(col("rnk") === k && sqrt(col("d2")) < bound)
        .select(col(idCol).as("done_id"))
      val isDone = col(idCol) === col("done_id")
      // finished ids exit the loop: their top-k (incl. rnk) is final — no
      // later ring can beat the bound — and never re-sorts again
      doneParts ::= topk.join(done, isDone, "left_semi")
      acc = Some(topk.join(done, isDone, "left_anti").drop("rnk"))
      pending = ck(pending.join(done, isDone, "left_anti"))
      nPending = pending.count()
      r = rHi + 1
    }
    // ring budget exhausted with ids still open: exact ranking against every
    // target instead of a silently truncated top-k, materialized eagerly so
    // the caller may release its target cache on every exit path
    if (nPending > 0) doneParts.foldLeft(ck(rank(everyTarget(pending))))(_ unionByName _)
    else doneParts.reduce(_ unionByName _)
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
