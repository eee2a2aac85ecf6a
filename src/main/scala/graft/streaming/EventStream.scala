package graft.streaming

import graft.ops.DifferentialPrivacy
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch event-time operators. The
  * reference is batch-only (SURVEY §1/§2.10 — no stream surface), so this
  * is the extension layer: the SAME aggregation logic as
  * `TimeSeries.windowAgg` runs under readStream with a watermark, and
  * sessionization gets the stateful `flatMapGroupsWithState` treatment
  * that true unbounded streams need (the batch lag/cumsum formulation
  * assumes a finite partition).
  *
  * Scale: windowed counts are partial-aggregated per micro-batch and
  * state-store-backed per (window, event_type); watermark bounds state.
  * Session state is one small record per active user key.
  */
object EventStream {

  /** Watermarked tumbling-window counts — streaming twin of
    * TimeSeries.windowAgg; identical output schema, so downstream
    * consumers can swap batch/stream sources transparently. */
  def windowedCounts(events: DataFrame, every: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** DP release of the windowed counts: the same watermarked aggregate
    * with Laplace noise applied per released statistic. In append mode
    * each (window_start, event_type) group is emitted exactly once, when
    * the watermark finalizes it — one noise draw per release, so the
    * driver-side `PrivacyBudget` charges ε once per query, independent of
    * how many micro-batches fed the window. The noise is a per-row
    * expression over the aggregate (no extra shuffle, no extra state),
    * and the hash-keyed draw makes replays repeat the same value rather
    * than spend fresh budget (see DifferentialPrivacy.noisyRelease). */
  def dpWindowedCounts(events: DataFrame, epsilon: Double, seed: Long,
                       every: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    windowedCounts(events, every, watermark)
      .select(col("window_start"), col("event_type"),
        DifferentialPrivacy.noisyRelease(col("n_events"),
          Seq("window_start", "event_type"), 1.0, epsilon, seed)
          .as("dp_n_events"))

  final case class SessionState(lastTsMicros: Long, sessionSeq: Long,
                                sessionStartMicros: Long)
  // `ts` stays in the projection so the watermark attribute survives up to
  // the stateful operator (EventTimeTimeout requires it on the input).
  final case class SessionEvent(event_id: Long, user_id: Long,
                                ts: java.sql.Timestamp, tsMicros: Long)
  final case class SessionAssignment(event_id: Long, user_id: Long,
                                     session_seq: Long, session_start_micros: Long)

  /** Stateful gap-based sessionization over a stream of events. Assumes
    * per-user event-time order within each batch (enforce upstream with a
    * watermark + sort, or accept micro-batch-order semantics). State is
    * (last timestamp, session ordinal, session start) per user.
    *
    * State EVICTION: once the event-time watermark passes a user's
    * last-event time + gap, the session can no longer be extended (any
    * in-watermark event would start a new session anyway), so the state
    * record is dropped via EventTimeTimeout. Without this, one state row
    * per ever-seen user accumulates forever and the state store OOMs on
    * an unbounded user population. After eviction a returning user's
    * `session_seq` restarts at 1 — `(user_id, session_start_micros)` is
    * the eviction-stable session key; `session_seq` is a per-state-
    * lifetime ordinal only. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
                       watermark: String = "2 hours")
                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermark)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), unix_micros(col("ts")).as("tsMicros"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // Watermark passed lastTs + gap: session closed, evict.
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, Long.MinValue))
            val out = batch.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
              val newSession = st.lastTsMicros == Long.MinValue ||
                e.tsMicros - st.lastTsMicros > gapMicros
              st = SessionState(e.tsMicros,
                if (newSession) st.sessionSeq + 1 else st.sessionSeq,
                if (newSession) e.tsMicros else st.sessionStartMicros)
              SessionAssignment(e.event_id, userId, st.sessionSeq, st.sessionStartMicros)
            }
            state.update(st)
            // Evict when the watermark passes the session-close instant.
            // Spark requires the timeout to sit beyond the current
            // watermark; a late straggler batch could otherwise set one
            // behind it.
            state.setTimeoutTimestamp(math.max(
              st.lastTsMicros / 1000L + gapMinutes * 60L * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
        })
      .toDF()
  }

  /** Stream-stream interval join — the streaming twin of
    * `TimeSeries.rangeJoin`: each point row joins every interval row with
    * the same key whose [start, end] contains its timestamp (inclusive).
    *
    * State BOUNDING is the whole design: a stream-stream join buffers
    * both sides in the state store, and Spark can only evict buffered
    * rows when the join condition relates the two WATERMARKED time
    * columns. `ts BETWEEN start AND end` alone does not (end is
    * unbounded relative to start), so the join adds the conjunct
    * `ts <= start + maxIntervalSeconds` — the caller's guarantee that no
    * interval is longer than the cap. With it, Spark derives both state
    * watermarks: points older than (interval watermark + cap) and
    * intervals whose start is older than the point watermark + cap are
    * dropped from state. Intervals LONGER than the cap would lose their
    * tail matches — size it to the true maximum, it costs only state
    * retention, not compute.
    *
    * The key columns must be named DIFFERENTLY on the two sides (a
    * stream-stream join can't disambiguate same-named columns from
    * unresolved inputs; rename upstream, e.g. `i_user_id`). */
  def streamRangeJoin(points: DataFrame, intervals: DataFrame,
                      pointKey: String, intervalKey: String,
                      tsCol: String, startCol: String, endCol: String,
                      maxIntervalSeconds: Long,
                      pointWatermark: String = "1 hour",
                      intervalWatermark: String = "1 hour"): DataFrame = {
    require(maxIntervalSeconds > 0, "maxIntervalSeconds must be positive")
    val p = points.withWatermark(tsCol, pointWatermark)
    val i = intervals.withWatermark(startCol, intervalWatermark)
    p.join(i,
      col(pointKey) === col(intervalKey) &&
        col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol) &&
        col(tsCol) <= col(startCol) + expr(s"INTERVAL $maxIntervalSeconds SECONDS"))
  }
}
