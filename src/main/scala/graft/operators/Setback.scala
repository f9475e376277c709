package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.GeoFunctionsImpl.{setback_nearest, st_dist2_ring}
import graft.functions.GeoFunctions.hex_cover

/**
 * Nearest-footprint-boundary distance per point ("setback" analysis — the
 * planning metric behind "how far is this point from the closest building").
 * No reference counterpart (the reference's spatial ops are bbox range
 * queries; SURVEY.md §2.3) — semantics defined here: for each point, the
 * minimum exact point-to-ring-boundary distance over all rings, deterministic
 * tie-break on footprint id ascending (`min(struct(d2, fid))` — order-free,
 * so results never depend on partitioning).
 *
 * Two physical paths, both over the one exact [[
 * org.apache.spark.sql.graft.RingKernels.dist2ToRing]] kernel:
 *
 *  1. [[indexed]] — the ring side fits on the driver: a [[SetbackIndex]]
 *     (rings bucketed by their hex cover cells) ships once per executor as
 *     a broadcast and the codegen `setback_nearest` kernel walks hex
 *     rings outward from each point's cell, scoring each met ring once,
 *     until the [[KnnJoin.ringLowerBound]] stop rule proves no unmet ring
 *     can be nearer (exact linear scan past `maxR`). One map-only
 *     projection: no join, no exchange, no rounds; per-point work is
 *     local-density-bounded.
 *  2. [[ringSearch]] — the scale path for ring sets too large to collect:
 *     rings bucket into the hex cells their cover spans
 *     ([[graft.functions.GeoFunctions.hex_cover]] covers the whole
 *     footprint, so every boundary point lies in a covered cell); points
 *     expand hex rings round by round in [[KnnJoin.ringJoin]]'s loop
 *     ([[KnnJoin.ringRounds]]) and only candidate (point, ring) pairs within
 *     the current ring batch get the exact kernel, under the same stop rule.
 *
 * [[auto]] picks per ring-side size with ONE bounded collect
 * (`limit(threshold + 1)` — O(threshold) even on a huge ring table, and the
 * collected rows are the index when they fit), conf
 * `spark.graft.setback.broadcastRingLimit`. The threshold caps the driver
 * collect and the broadcast index's size, not per-point work. For a
 * `rings` over local rows the decision is made once per input object.
 *
 * Inputs: `points` carries (`idCol`, x, y); `rings` carries
 * (fid: string, xs: array<double>, ys: array<double>). Output: (`idCol`, d2,
 * dist, nearest). Both paths return bit-identical rows (same kernel, same
 * order) — pinned against the relational crossJoin oracle in SetbackSpec.
 */
object Setback {

  val BroadcastRingLimitConf = "spark.graft.setback.broadcastRingLimit"
  val DefaultRingLimit = 65536

  /** Map-only index path: one codegen projection over the point scan. */
  def indexed(points: DataFrame, index: SetbackIndex,
              idCol: String = "event_id"): DataFrame =
    kernel(points, PlanIndex.broadcast(points, index), idCol)

  private def kernel(points: DataFrame, index: Broadcast[SetbackIndex], idCol: String): DataFrame = {
    // no rings → no rows, as under the relational min over an empty cross product
    val pts = if (index.value.isEmpty) points.where(lit(false)) else points
    finish(idCol, pts
      .select(col(idCol), setback_nearest(col("x").cast("double"),
        col("y").cast("double"), index).as("m"))
      .select(col(idCol), col("m.d2").as("d2"), col("m.fid").as("fid")))
  }

  /**
   * Cell-prefiltered scale path: the shared [[KnnJoin.ringRounds]] loop with
   * k = 1 — per round, pending points explode their next hex-ring span and
   * equi-join rings bucketed by covered cell; the exact kernel refines
   * candidates; points whose best distance beats the ring bound exit. Points
   * still open after `maxR` (far-field stragglers — small by construction)
   * fall back to the exact crossJoin score against the full ring table
   * rather than returning a silently-truncated answer.
   */
  def ringSearch(points: DataFrame, rings: DataFrame,
                 idCol: String = "event_id",
                 res: Int = 12, maxR: Int = 16, ringsPerRound: Int = 2,
                 checkpointDir: Option[String] = None): DataFrame = {
    val ringCols = rings.select(col("fid"), col("xs"), col("ys"))
    // positional cast renames arrays_zip's (xs, ys) fields to hex_cover's
    // expected (x, y) ring-vertex struct
    val ringStruct = arrays_zip(col("xs"), col("ys"))
      .cast("array<struct<x:double,y:double>>")
    val t = ringCols
      .withColumn("tcell", explode(hex_cover(ringStruct, lit(res))))
      .repartition(col("tcell")).persist()
    try {
      val ck = graft.core.Checkpoints.strategy(points, checkpointDir)
      def candOf(p: DataFrame): DataFrame = p.select(col(idCol), col("fid"),
        st_dist2_ring(col("xs"), col("ys"), col("x"), col("y")).as("d2"))
      // k=1 keep-best: min(struct) is a plain map-side-combining agg — the
      // shuffle carries one row per point, candidate-count-independent
      def best(c: DataFrame): DataFrame = c.groupBy(idCol)
        .agg(min(struct(col("d2"), col("fid"))).as("m"))
        .select(col(idCol), col("m.d2").as("d2"), col("m.fid").as("fid"), lit(1).as("rnk"))
      finish(idCol, KnnJoin.ringRounds(ck(points.select(col(idCol),
          col("x").cast("double").as("x"), col("y").cast("double").as("y"))),
        -1L, idCol, 1, res, maxR, ringsPerRound, ck)(
        // the same footprint can be met through several covered cells in one
        // span — duplicate (point, fid) candidates carry identical d2 and
        // collapse in the min, no distinct stage needed
        (exploded, _) => candOf(exploded.join(t, col("pcell") === col("tcell"))),
        best,
        // the ORIGINAL ring table, not the cell-exploded `t` — the exploded
        // form scores each (point, ring) pair once per covered cell
        open => candOf(open.crossJoin(ringCols))))
    } finally t.unpersist(blocking = false)
  }

  /** Route by ring-side size: the index path up to the conf threshold
    * (default 65536 rings), the distributed ring search above it. The
    * decision — the broadcast index, or "above the limit" — is memoized per
    * `rings` object, `res`, `maxR` and threshold when `rings` is a
    * deterministic plan over local rows ([[PlanIndex.sharedRows]]): repeated
    * calls then neither collect nor build. A file- or range-backed `rings`
    * is probed on every call. */
  def auto(points: DataFrame, rings: DataFrame, idCol: String = "event_id",
           res: Int = 12, maxR: Int = 16,
           checkpointDir: Option[String] = None): DataFrame = {
    val limit = graft.core.Confs.intConf(points.sparkSession,
      BroadcastRingLimitConf, DefaultRingLimit, min = 0)
    PlanIndex.sharedRows(points, rings, "setback", res, maxR, limit)(
      graft.core.Regime.collectUpTo(rings.select(col("fid"), col("xs"), col("ys")), limit)
        .map(rows => PlanIndex.broadcast(points, SetbackIndex.fromRows(rows, res, maxR)))) match {
      case Some(index) => kernel(points, index, idCol)
      case None => ringSearch(points, rings, idCol, res, maxR, checkpointDir = checkpointDir)
    }
  }

  private def finish(idCol: String, best: DataFrame): DataFrame =
    best.select(col(idCol), col("d2"), sqrt(col("d2")).as("dist"),
      col("fid").as("nearest"))
}
