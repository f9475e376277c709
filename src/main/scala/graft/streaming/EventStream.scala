package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * Structured Streaming surface. The reference is strictly batch (SURVEY.md
 * §2.8); streaming here is the engine extension the 100 TB pipeline needs:
 * the same event schema, consumed incrementally with watermarks + windowed
 * aggregation, and custom session state via flatMapGroupsWithState.
 *
 * Both operators are tested by replaying the driver's batch events table
 * through a file stream (`maxFilesPerTrigger`) into a memory sink and
 * comparing against the equivalent batch query (q24 / q25 semantics).
 */
object EventStream {

  val eventSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

  /** Tumbling 1-hour window census per event type with a 2-hour watermark. */
  def windowedCounts(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(path)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), max("value").as("max_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  /** buffered = (tsMillis, event_id) not yet past the watermark; the scalar
    * fields summarize the FINALIZED event prefix. */
  final case class SessionBuf(buffered: Seq[(Long, Long)], lastTs: Long,
                              nEvents: Long, nSessions: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Fold the 30-min-gap session rule over (tsMillis, event_id) pairs, which
    * MUST already be sorted by (ts, event_id) — the batch q25 tie-break. */
  private def foldSessions(st: SessionBuf, evs: Seq[(Long, Long)], gap: Long): SessionBuf =
    evs.foldLeft(st) { case (s, (ms, _)) =>
      val t = ms / 1000
      if (s.lastTs < 0 || t - s.lastTs > gap)
        s.copy(lastTs = t, nEvents = s.nEvents + 1, nSessions = s.nSessions + 1)
      else s.copy(lastTs = t, nEvents = s.nEvents + 1)
    }

  /**
   * Stateful sessionization (30-min inactivity gap) via flatMapGroupsWithState
   * with EVENT-TIME timeout: events buffer in state and only the prefix at or
   * below the watermark is folded into the session counters (so out-of-order
   * arrivals ACROSS micro-batches sort correctly before the gap rule applies —
   * a naive running fold would move `lastTs` backwards and merge sessions).
   *
   * Output contract (Append-safe): each emitted row finalizes one activity
   * EPOCH of a user — the span ending when the watermark passes their last
   * event + gap and state is removed. A long-lived stream can emit MORE THAN
   * ONE row per user: if the user returns after a timeout, fresh state opens
   * a new epoch and eventually emits another row. Consumers must therefore
   * SUM `n_sessions`/`n_events` per user, never key on user_id uniquely.
   * The summed totals equal the batch q25 answer: a post-timeout event is
   * admissible only with ts ≥ watermark > lastTs + gap, so the epoch boundary
   * always coincides with a session boundary — no session is ever split
   * across two rows, and no event is counted twice (each buffered event is
   * folded exactly once, either at ripeness or at timeout drain).
   */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 watermarkDelay: String = "30 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            // watermark passed last event + gap: no admissible event can open
            // or extend this user's sessions — drain the buffer and finalize
            val st = state.get
            val fin = foldSessions(st, st.buffered.sorted, gapSeconds)
            state.remove()
            Iterator.single(UserSessions(userId, fin.nSessions, fin.nEvents))
          } else {
            val st0 = state.getOption.getOrElse(SessionBuf(Nil, -1L, 0L, 0L))
            val wm = state.getCurrentWatermarkMs()
            val all = (st0.buffered ++ it.map(e => (e.ts.getTime, e.event_id))).sorted
            val (ripe, keep) = all.partition(_._1 < wm)
            val st1 = foldSessions(st0, ripe, gapSeconds).copy(buffered = keep)
            state.update(st1)
            val maxSeenMs = (st1.lastTs * 1000L +: keep.map(_._1)).max
            state.setTimeoutTimestamp(math.max(maxSeenMs + gapSeconds * 1000L, wm + 1L))
            Iterator.empty
          }
      }.toDF()
  }

  /**
   * Streaming exact dedup: drop re-deliveries of the same event id (at-least-
   * once sources re-emit) with STATE BOUNDED BY THE WATERMARK —
   * `dropDuplicatesWithinWatermark` evicts seen-key state once the watermark
   * passes it, where a plain streaming `dropDuplicates` would grow state
   * forever. The streaming face of the batch q17 exact dedup: two deliveries
   * of one event are exact duplicates by id, and any replay of the same event
   * arrives within the delay bound or is late-dropped by the watermark.
   */
  def dedupStream(spark: SparkSession, path: String,
                  watermarkDelay: String = "2 hours"): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(path)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /**
   * Streaming spatial enrichment: a stream of geotagged image rows is
   * PIP-matched against the footprint index per micro-batch — the
   * `pip_matches` expression is stateless, so the streaming plan is the same
   * codegen map-only shape as the batch plan (no state store, no shuffle).
   */
  def pipEnrich(spark: SparkSession, pointsDir: String,
                polys: Seq[graft.model.Footprint]): DataFrame = {
    val schema = new StructType()
      .add("image_id", StringType).add("x", DoubleType).add("y", DoubleType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(pointsDir)
    graft.operators.PipJoin.auto(stream, polys)
  }

  /**
   * Streaming kNN enrichment: each micro-batch row gets its k nearest
   * city-object centroids via the `knn_matches` expression — like
   * [[pipEnrich]], stateless and map-only, so the streaming plan is the
   * batch plan (no state store, no shuffle, same codegen span).
   */
  def knnEnrich(spark: SparkSession, pointsDir: String,
                targets: Seq[(String, Double, Double)], k: Int = 3): DataFrame = {
    val schema = new StructType()
      .add("probe_id", StringType).add("x", DoubleType).add("y", DoubleType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(pointsDir)
    graft.operators.KnnJoin.broadcastGrid(stream, targets, k)
  }

  final case class Ping(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                        feature_id: String)
  /** buffered = (tsMillis, event_id, feature_id) not yet past the watermark;
    * lastFp = footprint of the last FINALIZED ping ("" = none yet). */
  final case class VisitBuf(buffered: Seq[(Long, Long, String)], lastFp: String,
                            nVisits: Int)
  final case class VisitStart(user_id: Long, ts_ms: Long, event_id: Long,
                              feature_id: String, visit_idx: Int)

  private def foldVisits(st: VisitBuf, uid: Long,
                         pings: Seq[(Long, Long, String)]): (VisitBuf, Seq[VisitStart]) =
    pings.foldLeft((st, Vector.empty[VisitStart])) { case ((s, out), (ms, eid, fp)) =>
      if (fp != s.lastFp) {
        val idx = s.nVisits + 1
        (s.copy(lastFp = fp, nVisits = idx),
          out :+ VisitStart(uid, ms, eid, fp, idx))
      } else (s, out)
    }

  /**
   * Streaming GEOFENCE visit detection — the streaming twin of the batch
   * q86 visit segmentation: a stream of footprint-hit pings (the stateless
   * codegen `pip_matches` stage upstream) is segmented per user into
   * visits, and each visit START (the geofence-entry alert) is emitted
   * exactly once, in Append mode, as soon as the watermark proves no
   * earlier ping can still arrive. Ordering is event-time-correct ACROSS
   * micro-batches the same way [[sessionize]] is: pings buffer in state,
   * only the prefix below the watermark is folded (sorted by the q86 total
   * order (ts, event_id)), and an event-time timeout drains the tail when
   * the user goes quiet. State per user = undelivered pings + one footprint
   * id — bounded by the watermark delay, independent of history length.
   */
  def geofenceVisits(pings: Dataset[Ping],
                     watermarkDelay: String = "30 minutes"): DataFrame = {
    val spark = pings.sparkSession
    import spark.implicits._
    pings.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Ping], state: GroupState[VisitBuf]) =>
          if (state.hasTimedOut) {
            val st = state.get
            val (st1, out) = foldVisits(st.copy(buffered = Nil), userId, st.buffered.sorted)
            // keep a DRAINED state (no buffered pings, lastFp/nVisits intact)
            // rather than removing: a user resuming pings in the same
            // footprint after a quiet gap >= the watermark delay must NOT
            // re-emit a visit start or restart visit_idx — batch q86
            // collapses consecutive same-footprint hits across any gap, and
            // "each visit start emits exactly once" is the contract. Cost:
            // one (string, int) per ever-seen user with no timeout armed —
            // bounded by user cardinality, not by history length.
            state.update(st1.copy(buffered = Nil))
            out.iterator
          } else {
            val st0 = state.getOption.getOrElse(VisitBuf(Nil, "", 0))
            val wm = state.getCurrentWatermarkMs()
            val all = (st0.buffered ++ it.map(p =>
              (p.ts.getTime, p.event_id, p.feature_id))).sorted
            val (ripe, keep) = all.partition(_._1 < wm)
            val (st1, out) = foldVisits(st0, userId, ripe)
            state.update(st1.copy(buffered = keep))
            val maxSeenMs = (wm +: keep.map(_._1)).max
            state.setTimeoutTimestamp(maxSeenMs + 1L)
            out.iterator
          }
      }.toDF()
  }

  /** Replay a batch parquet dir through the streaming graph into memory sink. */
  def replayWindowed(spark: SparkSession, path: String, queryName: String): DataFrame = {
    val q = windowedCounts(spark, path).writeStream
      .format("memory").queryName(queryName).outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
