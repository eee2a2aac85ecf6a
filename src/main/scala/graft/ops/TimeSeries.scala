package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` table: tumbling-window
  * aggregation and gap-based sessionization. The reference is batch-only
  * (SURVEY §1), so these are an extension surface over batch tables.
  *
  * Scale: both operators shuffle once on their natural key (window/user);
  * sessionization's window functions run inside the per-user partition, so
  * skew only arises from a single pathological user — AQE skew-join
  * handling plus the (user, day) sub-split fallback covers that.
  */
object TimeSeries {

  /** Tumbling-window counts and sums per event_type. */
  def windowAgg(events: DataFrame, every: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Resample an event stream onto a fixed per-key time grid with
    * forward-fill — the gap-fill every monitoring/feature pipeline runs
    * before joining series with different emission rates: bucket to
    * `stepSeconds`, aggregate observed buckets (count + 6dp mean), then
    * densify to the full [min, max] bucket range and carry the last
    * observed mean forward across empty buckets (count stays 0; leading
    * buckets before a key's first observation stay null).
    *
    * Scale: one exchange to the (key, bucket) aggregate, whose size is
    * keys × occupied buckets, not raw events; the grid is generated from
    * a broadcast 1-row global bound (no driver collect) and the fill is
    * one window pass inside the key partition. Grid rows = keys × range
    * buckets — bounded by calendar span, independent of event volume.
    * Bucket arithmetic is integer epoch-seconds end-to-end so an external
    * engine replays identical bucket boundaries (no timestamp rounding).
    */
  def resampleFill(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val step = lit(stepSeconds)
    val bucketed = events
      .select(col(keyCol),
        (floor(unix_timestamp(col(tsCol)) / step) * step).as("__b"),
        col(valueCol))
      .groupBy(col(keyCol), col("__b"))
      // order-independent mean: exact integer micro-unit sum, ONE
      // division (the q80 lesson — round(avg(double), 6) sits a half-ulp
      // from a boundary often enough that an engine's summation order
      // flips a digit; the sf0.1 gate caught exactly one such bucket)
      .agg(round(sum(round(col(valueCol) * 1000000).cast("long")) /
          (count(lit(1)) * 1000000.0), 6).as("__avg"),
        count(lit(1)).as("__n"))
    val bounds = bucketed.agg(min("__b").as("__lo"), max("__b").as("__hi"))
    val grid = bucketed.select(col(keyCol)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol), explode(sequence(col("__lo"), col("__hi"), step)).as("__b"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketed, Seq(keyCol, "__b"), "left")
      .withColumn("n_events", coalesce(col("__n"), lit(0L)))
      .withColumn("avg_value", last(col("__avg"), ignoreNulls = true).over(w))
      .select(col(keyCol),
        date_format(timestamp_seconds(col("__b")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_events"), col("avg_value"))
  }

  /** [[resampleFill]]'s linear-interpolation sibling: the same per-key
    * regular grid, but an empty bucket takes the straight line between
    * its nearest present neighbors instead of carrying the last value
    * forward (ffill is right for state snapshots; interpolation is
    * right for sampled continuous signals). Leading gaps take the first
    * present value, trailing gaps the last.
    *
    * Determinism: bucket means are the exact micro-unit averages of
    * resampleFill; the interpolation weight (b − prevB)/(nextB − prevB)
    * and blend are fixed-shape double expressions over those 6-dp
    * values, rounded 6 dp at the edge. nextB > prevB is structural in
    * the interpolating branch (both neighbors exist and the bucket
    * itself is empty), so the ANSI division is safe by construction.
    *
    * Scale: grid rows are calendar-bounded (span/step per key, not
    * event volume); the prev/next scans are two frames over ONE
    * key-partitioned window ordering. */
  def resampleInterpolate(events: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String,
                          stepSeconds: Long = 3600L): DataFrame = {
    val step = lit(stepSeconds)
    val bucketed = events
      .select(col(keyCol),
        (floor(unix_timestamp(col(tsCol)) / step) * step).as("__b"),
        col(valueCol))
      .groupBy(col(keyCol), col("__b"))
      .agg(round(sum(round(col(valueCol) * 1000000).cast("long")) /
          (count(lit(1)) * 1000000.0), 6).as("__avg"),
        count(lit(1)).as("__n"))
    val bounds = bucketed.agg(min("__b").as("__lo"), max("__b").as("__hi"))
    val grid = bucketed.select(col(keyCol)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol), explode(sequence(col("__lo"), col("__hi"), step)).as("__b"))
    val wPast = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFut = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val joined = grid.join(bucketed, Seq(keyCol, "__b"), "left")
      .withColumn("__pv", last(col("__avg"), ignoreNulls = true).over(wPast))
      .withColumn("__pb",
        last(when(col("__avg").isNotNull, col("__b")), ignoreNulls = true)
          .over(wPast))
      .withColumn("__nv", first(col("__avg"), ignoreNulls = true).over(wFut))
      .withColumn("__nb",
        first(when(col("__avg").isNotNull, col("__b")), ignoreNulls = true)
          .over(wFut))
    joined
      .withColumn("n_events", coalesce(col("__n"), lit(0L)))
      .withColumn("value",
        when(col("__avg").isNotNull, col("__avg"))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(round(col("__pv") + (col("__nv") - col("__pv"))
            * (col("__b") - col("__pb")).cast("double")
            / (col("__nb") - col("__pb")).cast("double"), 6)))
      .select(col(keyCol),
        date_format(timestamp_seconds(col("__b")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_events"), col("value"))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * user's previous event exceeds `gapMinutes`. session_seq is the
    * per-user session ordinal (cumulative sum over the new-session flag). */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("__prev_ts")) > gapMinutes * 60L,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(byUser))
      .drop("__prev_ts", "__new_session")
  }

  /** Per-key trailing-window aggregate: for every event, the count and
    * mean of `valueCol` over the same key's events in the preceding
    * `windowMicros` microseconds (inclusive of the current row and its
    * timestamp peers — RANGE frame semantics). The batch form of a
    * sliding-window feature (rolling rate, trailing spend).
    *
    * The frame orders on integer epoch-MICROseconds, not a casted
    * timestamp (cast-to-long truncates to seconds) and not a double, so
    * an external engine replays the exact same frame boundaries.
    *
    * Scale: one exchange on the key; each partition then sorts its keys'
    * events once and slides the frame linearly. No self-join — the
    * naive events⋈events formulation is O(n·window) per key and
    * dominates at 100 TB. */
  def movingAggregate(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, windowMicros: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowMicros, Window.currentRow)
    events
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("avg_value", round(avg(col(valueCol)).over(w), 6))
  }

  /** As-of join: for each left row, attach the LATEST right row with the
    * same key and right ts <= left ts (inclusive) — point-in-time feature
    * lookup / attribution, the example custom operator Spark lacks.
    *
    * NOT implemented as a range join (which explodes to O(|L|·|R|) per
    * key before filtering): both sides union into one stream tagged
    * right-before-left at equal timestamps, and a single running
    * `last(payload, ignoreNulls)` window carries the newest right payload
    * forward onto each left row. ONE shuffle on the key, linear work —
    * the merge-join shape a native as-of operator would use.
    *
    * Determinism: among right rows tied on (key, ts), the largest
    * `rightTieCol` wins (the window order's last). Left rows with no
    * prior right row get nulls. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, rightPayload: Seq[String], rightTieCol: String,
               prefix: String = "asof_"): DataFrame = {
    val lType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val pType = org.apache.spark.sql.types.StructType(
      rightPayload.map(c => right.schema(c)))
    val l = left.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      lit(1).as("__m"), lit(-1L).as("__tie"),
      struct(left.columns.map(col): _*).as("__lrow"),
      lit(null).cast(pType).as("__p"))
    val r = right.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      lit(0).as("__m"), col(rightTieCol).cast("long").as("__tie"),
      lit(null).cast(lType).as("__lrow"),
      struct(rightPayload.map(col): _*).as("__p"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__m"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__pf", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__m") === 1)
      .select(col("__lrow.*") +:
        rightPayload.map(c => col(s"__pf.$c").as(prefix + c)): _*)
  }

  /** Range join: attach to each point row (`points.tsCol`) every interval
    * row whose [startCol, endCol] contains it (inclusive), matching on
    * `keyCols`. Spark plans a raw `BETWEEN` join predicate as a
    * sort-merge/nested-loop with a post-filter — per key it materializes
    * O(|points|·|intervals|) candidates. This operator makes it an
    * EQUI-join: points map to time bucket floor(epoch/`bucketSeconds`),
    * intervals EXPLODE into the buckets they span, and the join runs on
    * (keys, bucket) with the exact BETWEEN as a cheap post-filter.
    *
    * Each point lives in exactly one bucket and a covering interval
    * contributes that bucket exactly once, so no duplicates and no
    * misses — no distinct needed. Replication factor = interval length /
    * bucketSeconds + 1: pick a bucket near the TYPICAL interval length
    * (24 h intervals + 24 h buckets → ≤ 2 copies). One hash-partitioned
    * shuffle on (keys, bucket); at 100 TB the bucket key also spreads a
    * hot join key across time.
    *
    * Column-name collisions between the two sides (beyond `keyCols`) are
    * the caller's responsibility — pre-select/rename as needed. */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keyCols: Seq[String],
                tsCol: String, startCol: String, endCol: String,
                bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val pB = points.withColumn("__bk",
      floor(unix_timestamp(col(tsCol)) / bucketSeconds.toDouble))
    val iB = intervals.withColumn("__bk",
      explode(sequence(
        floor(unix_timestamp(col(startCol)) / bucketSeconds.toDouble),
        floor(unix_timestamp(col(endCol)) / bucketSeconds.toDouble))))
    pB.join(iB, (keyCols :+ "__bk").toSeq)
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bk")
  }

  /** Interval-OVERLAP join: pair every `a` interval with every same-key
    * `b` interval it overlaps ([aStart,aEnd] ∩ [bStart,bEnd] ≠ ∅,
    * boundaries inclusive) — the interval-interval sibling of
    * [[rangeJoin]]'s point-in-interval. Same bucketed-equi-join scheme:
    * both sides explode into the `bucketSeconds` time buckets they span
    * and join on (keys, bucket) with the exact overlap predicate as a
    * post-filter.
    *
    * An overlapping pair shares EVERY bucket its overlap spans, so the
    * bucket join alone would duplicate it; instead of a distinct over
    * the output, each pair is attributed to exactly ONE bucket — the
    * one containing the overlap's start, `greatest(aStart, bStart)`
    * (the overlap is non-empty, so that instant lies in both intervals
    * and its bucket is exploded by both sides). Dedup-free: no shuffle
    * beyond the one (keys, bucket) exchange. Replication factor =
    * interval length / bucketSeconds + 1 per side — pick the bucket
    * near the typical interval length, as with [[rangeJoin]].
    *
    * Column-name collisions between the sides (beyond `keyCols`) are
    * the caller's responsibility — pre-rename start/end and payloads. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                          aStart: String, aEnd: String,
                          bStart: String, bEnd: String,
                          bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    def bk(s: String, e: String) = explode(sequence(
      floor(unix_timestamp(col(s)) / bucketSeconds.toDouble),
      floor(unix_timestamp(col(e)) / bucketSeconds.toDouble)))
    val aB = a.withColumn("__bk", bk(aStart, aEnd))
    val bB = b.withColumn("__bk", bk(bStart, bEnd))
    aB.join(bB, (keyCols :+ "__bk").toSeq)
      .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
      .filter(col("__bk") === floor(
        unix_timestamp(greatest(col(aStart), col(bStart))) / bucketSeconds.toDouble))
      .drop("__bk")
  }

  /** Burst throttling / telemetry dedup: keep the FIRST event of every
    * gap-delimited burst per key — an event survives iff no same-key
    * event in the preceding `gapSeconds` also survived. This is exactly
    * gap-based sessionization (the [[sessionize]] recurrence) with the
    * session collapsed to its opening event: lag → gap flag → running
    * session counter → rank-1 per session, four window steps over ONE
    * (keys)-partitioned exchange (Catalyst folds same-key windows).
    * Note the recursive semantics: a burst of events each 2 min apart
    * under a 5-min gap keeps only the burst's first event, no matter
    * how long the chain runs — a plain "distance to previous event"
    * filter would re-admit every other element of the chain.
    * Ties on the timestamp break on `tieCol` so the kept row replays
    * identically on any engine. */
  def throttleDedup(events: DataFrame, keyCols: Seq[String], tsCol: String,
                    gapSeconds: Long, tieCol: String): DataFrame = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    val keyPart = Window.partitionBy(keyCols.map(col): _*)
    val order = keyPart.orderBy(col(tsCol), col(tieCol))
    // exact integer micros (unix_micros / epoch_us) — a seconds-level
    // truncation or a double cast could disagree with an external
    // engine on a sub-second boundary. The cast admits TIMESTAMP_NTZ
    // inputs (wall-clock, exact under the engine's fixed UTC session);
    // on TimestampType it is a no-op.
    val micros = (c: Column) => unix_micros(c.cast("timestamp"))
    val newBurst = when(
      micros(col(tsCol)) -
        micros(lag(col(tsCol), 1).over(order)) > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    val withBurst = events
      .withColumn("__nb", coalesce(newBurst, lit(1L)))
      .withColumn("__burst", sum(col("__nb")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withBurst
      .withColumn("__rn", row_number().over(
        Window.partitionBy((keyCols.map(col) :+ col("__burst")): _*)
          .orderBy(col(tsCol), col(tieCol))))
      .filter(col("__rn") === 1)
      .drop("__nb", "__burst", "__rn")
  }

  /** Time-weighted average per series: each observation holds until the
    * next one, so TWA = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_n − t₁) — the correct mean
    * for irregularly-sampled state (a gauge read on change, a price
    * quoted on trade); the arithmetic mean over-weights bursts.
    *
    * Exact contract: values fix to micro-unit longs, durations are
    * exact microsecond longs; the value·duration products widen to
    * decimal(38) before summing, one double division at the edge.
    * Single-point series (no duration) yield null twa.
    *
    * Scale: one lead() window + one aggregation, both on the series
    * key — one exchange. */
  def timeWeightedAvg(df: DataFrame, groupCol: String, tsCol: String,
                      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("__g")).orderBy(col("__t"), col("__vm"))
    val pts = df.select(col(groupCol).as("__g"),
        col(tsCol).cast("timestamp").as("__ts"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__ts").isNotNull && col("__v").isNotNull)
      .select(col("__g"),
        unix_micros(col("__ts")).as("__t"),
        round(col("__v") * 1e6, 0).cast("long").as("__vm"))
      .withColumn("__dur", lead(col("__t"), 1).over(w) - col("__t"))
    pts.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n_points"),
        min(col("__t")).as("__t0"), max(col("__t")).as("__t1"),
        sum(col("__vm").cast("decimal(38,0)") * col("__dur")).as("__wsum"))
      .select(col(groupCol), col("n_points"),
        when(col("__t1") > col("__t0"),
          round(col("__wsum").cast("double")
            / ((col("__t1") - col("__t0")).cast("double") * 1e6), 6))
          .as("twa"))
  }

  /** OHLC bars: per (series, time bucket) the open/high/low/close and
    * tick count — the candlestick/state-summary aggregation. Open and
    * close are deterministic under timestamp ties via lexicographic
    * (ts, value) struct extrema, not first()/last() (which are
    * partition-order-dependent and non-reproducible).
    *
    * Scale: ONE map-side-combining aggregation on (series, bucket) —
    * the struct min/max carries open/close through partial aggregation,
    * so no window, no sort, no second pass. */
  def ohlcBars(df: DataFrame, groupCol: String, tsCol: String,
               valueCol: String, bucket: String = "1 day"): DataFrame = {
    val pts = df.select(col(groupCol).as("__g"),
        col(tsCol).cast("timestamp").as("__ts"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__ts").isNotNull && col("__v").isNotNull)
    pts.groupBy(col("__g").as(groupCol),
        window(col("__ts"), bucket).getField("start").as("bar_start"))
      .agg(count(lit(1)).as("n_ticks"),
        min(struct(col("__ts"), col("__v"))).getField("__v").as("open"),
        max(col("__v")).as("high"),
        min(col("__v")).as("low"),
        max(struct(col("__ts"), col("__v"))).getField("__v").as("close"))
  }

  /** Rolling correlation between two event types' daily volumes: per
    * day, Pearson over the trailing `window` joint observations — the
    * RELATIONSHIP drift detector ([[crossCorrelation]] finds the lag
    * once; this watches whether the coupling itself decays, the
    * leading indicator of an instrumentation break).
    *
    * Determinism: exact integer daily counts; trailing moments are
    * integer/decimal window sums (order-free); one fixed-shape Pearson
    * double per day, rounded 6 dp, null below `minPeriods` joint days
    * or when a side is locally constant. Days missing EITHER series
    * are absent (inner join; resampleFill composes when zeros count).
    *
    * Scale: one aggregation to the calendar-bounded daily table; the
    * trailing window runs single-partition over that day table (the
    * q202 calendar-domain contract), never the events. */
  def rollingCorr(events: DataFrame, typeCol: String, tsCol: String,
                  typeA: String, typeB: String, window: Int = 14,
                  minPeriods: Int = 5): DataFrame = {
    require(window >= 2 && minPeriods >= 2 && minPeriods <= window,
      s"rollingCorr: need 2 <= minPeriods=$minPeriods <= window=$window")
    val daily = events
      .filter(col(typeCol).isin(typeA, typeB))
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col("__t"), col("__d"))
      .agg(count(lit(1)).as("__x"))
      // the daily table feeds both series filters: persist so the
      // event scan runs once (QueryCleanup handover)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => daily.unpersist())
    val a = daily.filter(col("__t") === typeA).select(col("__d"), col("__x").as("__xa"))
    val b = daily.filter(col("__t") === typeB).select(col("__d"), col("__x").as("__xb"))
    val j = a.join(b, Seq("__d"))
    val w = Window.partitionBy(lit(0)).orderBy(col("__d"))
      .rowsBetween(-(window - 1), 0)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val withM = j
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sa", sum(dec(col("__xa"))).over(w))
      .withColumn("__sb", sum(dec(col("__xb"))).over(w))
      .withColumn("__saa", sum(dec(col("__xa")) * col("__xa")).over(w))
      .withColumn("__sbb", sum(dec(col("__xb")) * col("__xb")).over(w))
      .withColumn("__sab", sum(dec(col("__xa")) * col("__xb")).over(w))
    val n = dec(col("__n"))
    val num = (n * col("__sab") - col("__sa") * col("__sb")).cast("double")
    val da = (n * col("__saa") - col("__sa") * col("__sa")).cast("double")
    val db = (n * col("__sbb") - col("__sb") * col("__sb")).cast("double")
    withM.select(col("__d").as("day"),
      col("__xa").as("n_a"), col("__xb").as("n_b"), col("__n").as("n_window"),
      when(col("__n") >= minPeriods && da > 0 && db > 0,
        round(num / sqrt(da * db), 6)).as("corr"))
  }

  /** Lead/lag cross-correlation between two event types' daily volume
    * series: Pearson corr(A_t, B_{t+lag}) for every lag in
    * [−maxLag, maxLag] — the "errors spike two days after signups"
    * detector; the argmax row is the lead time, and
    * [[graft.ops.DataQuality.autocorrelation]] is the A = B special
    * case.
    *
    * Determinism: daily counts are exact longs; per-lag moments
    * accumulate in decimal(38) over the inner-joined day pairs; one
    * fixed-shape Pearson double per lag, rounded 6 dp, null when a
    * side is constant. Days with zero events are ABSENT (inner join on
    * the present-day series — compose with [[resampleFill]] when zeros
    * must count; they usually should for sparse types).
    *
    * Scale: one aggregation to the calendar-bounded daily table; the
    * lag fan-out multiplies DAYS (not events) by 2·maxLag+1 and joins
    * day-keyed; per-lag reduction is map-side combined. */
  def crossCorrelation(events: DataFrame, typeCol: String, tsCol: String,
                       typeA: String, typeB: String,
                       maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"crossCorrelation: maxLag=$maxLag must be >= 1")
    val daily = events
      .filter(col(typeCol).isin(typeA, typeB))
      .select(col(typeCol).as("__t"), to_date(col(tsCol)).as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col("__t"), col("__d"))
      .agg(count(lit(1)).as("__x"))
      // the daily table feeds both series filters: persist so the
      // event scan runs once (QueryCleanup handover)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => daily.unpersist())
    val a = daily.filter(col("__t") === typeA).select(col("__d"), col("__x").as("__xa"))
    val b = daily.filter(col("__t") === typeB)
      .select(col("__d").as("__db"), col("__x").as("__xb"))
    val lagged = a.withColumn("lag",
      explode(array((-maxLag to maxLag).map(l => lit(l)): _*)))
    val j = lagged.join(b, col("__db") === date_add(col("__d"), col("lag")))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = j.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("__xa"))).as("__sa"), sum(dec(col("__xb"))).as("__sb"),
        sum(dec(col("__xa")) * col("__xa")).as("__saa"),
        sum(dec(col("__xb")) * col("__xb")).as("__sbb"),
        sum(dec(col("__xa")) * col("__xb")).as("__sab"))
    val n = dec(col("n_days"))
    val num = (n * col("__sab") - col("__sa") * col("__sb")).cast("double")
    val da = (n * col("__saa") - col("__sa") * col("__sa")).cast("double")
    val db = (n * col("__sbb") - col("__sb") * col("__sb")).cast("double")
    m.select(col("lag").cast("long").as("lag"), col("n_days"),
      when(da > 0 && db > 0, round(num / sqrt(da * db), 6)).as("corr"))
  }

  /** Inter-event gap distribution: per group, the seconds between a
    * user's consecutive events of that group, summarized as count +
    * mean + exact p50/p90 — the arrival-process fingerprint (a human's
    * gaps are heavy-tailed; a bot's cluster at fixed intervals, which
    * also shows as [[graft.ops.DataQuality.dispersion]] ≪ 1 on the
    * derived series).
    *
    * Gaps are exact long seconds (unix-second difference over the
    * total (ts, tieCol) order); the mean divides one decimal sum; the
    * percentiles are the q50 exact contract. One (group, user)-keyed
    * window exchange feeding a map-side-combining group aggregation. */
  def interEventGaps(events: DataFrame, groupCol: String, userCol: String,
                     tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol), col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("__gap",
        unix_timestamp(col(tsCol)) - lag(unix_timestamp(col(tsCol)), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(col("__gap").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_seconds"),
        round(expr("percentile(__gap, 0.5)"), 6).as("p50_seconds"),
        round(expr("percentile(__gap, 0.9)"), 6).as("p90_seconds"))
  }

  /** Period-over-period change of daily per-group volumes: each day
    * against the same weekday `lagPeriods` back (default 7 — WoW) —
    * the comparison that nulls out weekly rhythm where a day-over-day
    * delta just measures the weekend. Null change when the reference
    * day is absent or zero (not a division error — ANSI, and a 0→n
    * jump has no finite percentage).
    *
    * Lag is ROW-based over the present-day series; compose with
    * [[resampleFill]] first when zero-event days must count (a missing
    * day shifts which row sits 7 back). One group exchange; exact
    * integer counts, one fixed-shape double at the edge. */
  def periodChange(events: DataFrame, groupCol: String, tsCol: String,
                   lagPeriods: Int = 7): DataFrame = {
    require(lagPeriods >= 1, s"periodChange: lagPeriods=$lagPeriods must be >= 1")
    val daily = events
      .select(col(groupCol).as("__g"), to_date(col(tsCol)).as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col("__g"), col("__d"))
      .agg(count(lit(1)).as("__x"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__d"))
    daily
      .withColumn("__prev", lag(col("__x"), lagPeriods).over(w))
      .select(col("__g").as(groupCol), col("__d").as("day"),
        col("__x").as("n"), col("__prev").as("n_prev"),
        when(col("__prev") > 0,
          round((col("__x") - col("__prev")).cast("double")
            / col("__prev").cast("double"), 6)).as("pct_change"))
  }

  /** Additive seasonal decomposition (STL-lite) of daily per-group
    * volumes: trend = centered 7-point moving average (full windows
    * only), seasonal = per-day-of-week mean of the detrended series,
    * remainder = observed − trend − seasonal. The "is Tuesday always
    * like this, or is today actually anomalous?" separation that a raw
    * threshold (or [[ewmaAnomalies]], which sees weekly rhythm as
    * noise) can't make.
    *
    * Determinism: daily counts are exact longs; trend is one fixed
    * division of a 7-integer window sum; seasonal fixes detrended
    * values to micro-units before the per-DOW mean (order-free); the
    * remainder is a fixed-shape double chain on 6-dp values. Operates
    * on the PRESENT-day series (compose with [[resampleFill]] first if
    * zero-event days must count as zeros — they usually should).
    *
    * Scale: one (group, day) aggregation; the trend window runs over
    * the calendar-bounded daily table and the DOW means over ≤ 7·|groups|
    * rows, broadcast back. */
  def seasonalDecompose(events: DataFrame, groupCol: String,
                        tsCol: String): DataFrame = {
    val daily = events
      .select(col(groupCol).as("__g"), to_date(col(tsCol)).as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col("__g"), col("__d"))
      .agg(count(lit(1)).as("__x"))
    val wC = Window.partitionBy(col("__g")).orderBy(col("__d"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend",
        when(count(col("__x")).over(wC) === 7,
          round(sum(col("__x")).over(wC).cast("double") / 7.0, 6)))
      .withColumn("__det", col("__x").cast("double") - col("trend"))
      .withColumn("__dow", dayofweek(col("__d")))
    // the DOW mean S/k CAN land on an exact 7-digit half (unlike the
    // /7 trend, whose period-6 expansion never ties), and a half is
    // where Spark's string-based round and an external engine's
    // binary round disagree — so round half-away-from-zero in exact
    // INTEGER micro arithmetic: (|2S| + k) div 2k, re-signed
    val seasonal = trended.filter(col("__det").isNotNull)
      .groupBy(col("__g"), col("__dow"))
      .agg(sum(round(col("__det") * 1e6, 0).cast("decimal(38,0)")).as("__s"),
        count(lit(1)).as("__k"))
      .withColumn("__q",
        expr("CASE WHEN __s >= 0 THEN (abs(__s) * 2 + __k) div (__k * 2) " +
          "ELSE -((abs(__s) * 2 + __k) div (__k * 2)) END"))
      .select(col("__g"), col("__dow"),
        round(col("__q").cast("double") / 1e6, 6).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("__g", "__dow"), "left")
      .select(col("__g").as(groupCol), col("__d").as("day"),
        col("__x").as("n"), col("trend"), col("seasonal"),
        round(col("__x").cast("double") - col("trend") - col("seasonal"), 6)
          .as("remainder"))
  }

  /** Seasonal-adjusted anomalies — the payoff of
    * [[seasonalDecompose]]: flag days whose decomposition REMAINDER
    * sits more than k MADs from the group's median remainder. Raw
    * thresholds (and the EWMA chart) see weekly rhythm as noise;
    * operating on the remainder asks the right question — "is today
    * anomalous FOR a Tuesday in this trend?" — and MAD keeps the
    * threshold itself outlier-proof (a σ-based band widens to admit
    * exactly the spikes it should catch).
    *
    * Determinism: remainders are the decomposition's 6-dp values; the
    * two exact medians per group (median, then MAD) use `percentile`
    * over the calendar-bounded daily table (the q50 contract); the
    * flag compares fixed-shape doubles. Edge days without a full
    * trend window carry null remainder and never flag. */
  /** Spark `percentile(x, 0.5)`'s exact interpolation over an ASCENDING
    * array: the middle element (odd n), or lo + (hi − lo)·0.5 (even n) —
    * the same IEEE expression shape the builtin evaluates, so folding the
    * median into an array projection changes nothing the oracle sees. */
  private def exactMedian(arr: Column): Column = {
    val n = size(arr)
    val lo = element_at(arr, ((n + 1) / 2).cast("int"))
    val hi = element_at(arr, (n / 2 + 1).cast("int"))
    // odd n: lo == hi == the middle element; even n: interpolate at 0.5
    when(n % 2 === 1, lo).otherwise(lo + (hi - lo) * lit(0.5))
  }

  def seasonalAnomalies(events: DataFrame, groupCol: String, tsCol: String,
                        k: Double = 3.0): DataFrame = {
    require(k > 0, s"seasonalAnomalies: k=$k must be > 0")
    // the decomposition feeds two consumers (the stats pass and the final
    // select): persist the calendar-bounded daily table so the event
    // scan + trend/seasonal chain runs once (QueryCleanup handover)
    val d = seasonalDecompose(events, groupCol, tsCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => d.unpersist())
    // BOTH medians in ONE group-sized aggregation: remainders collect to
    // a per-group sorted array (calendar-bounded — ≤ |days| elements), the
    // median and the MAD fold out of it as projections replicating the
    // builtin percentile's interpolation bit-for-bit. The r12 shape ran
    // median and MAD as two separate broadcast-subquery jobs, each racing
    // to materialize the persisted daily table — one stats job removes
    // the race and a whole broadcast round.
    val stats = d.filter(col("remainder").isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("remainder"))).as("__arr"))
      .withColumn("__med", round(exactMedian(col("__arr")), 6))
      .withColumn("__devs", sort_array(
        transform(col("__arr"), x => round(abs(x - col("__med")), 6))))
      .withColumn("__mad", round(exactMedian(col("__devs")), 6))
      .select(col(groupCol), col("__med"), col("__mad"))
    d.join(broadcast(stats), Seq(groupCol), "left")
      .withColumn("__dev",
        when(col("remainder").isNotNull,
          round(abs(col("remainder") - col("__med")), 6)))
      .select(col(groupCol), col("day"), col("n"), col("remainder"),
        col("__mad").as("mad"),
        coalesce(col("__mad") > 0 && col("__dev") > lit(k) * col("__mad"),
          lit(false)).as("anomaly"))
  }

  /** EWMA control chart over a pre-aggregated per-group series
    * (group, t, integer value): the exponentially-weighted anomaly
    * monitor for pipeline volume metrics — [[graft.ops.DataQuality]]'s
    * CUSUM (q199) finds a persistent LEVEL SHIFT after the fact; the
    * EWMA chart flags the single out-of-band POINT as it arrives.
    *
    * A textbook EWMA is an infinite recursion (s_t = αx + (1−α)s_{t−1})
    * — inherently serial and irreproducible once the scaled cumulative
    * trick overflows, so this uses the `window`-point memory cutoff:
    * weights (1−α)^j for the last `window` points carry ≥ 99% of the
    * recursion's mass at the defaults (α=0.3, W=14). That makes each
    * row a FIXED-SHAPE expression of its W lags — codegen'd arithmetic
    * with one window exchange on the group key, and bit-reproducible:
    * the weights are Scala-computed double literals shared verbatim
    * with the oracle, the lag sums are fixed left-associated adds, and
    * σ comes from exact integer/decimal trailing sums.
    *
    * Anomaly rule: |x_t − ewma(prev W)| > k·σ(prev W), needing ≥ 3
    * prior points; σ uses the unbiased trailing variance
    * (n·Σx² − (Σx)²) / (n(n−1)) in decimal(38) before one sqrt.
    * Output: one row per input (t, x, ewma incl. current point, sigma,
    * anomaly). */
  def ewmaAnomalies(series: DataFrame, groupCol: String, tCol: String,
                    valueCol: String, alpha: Double = 0.3,
                    window: Int = 14, k: Double = 3.0): DataFrame = {
    require(alpha > 0 && alpha < 1, s"ewmaAnomalies: alpha=$alpha outside (0,1)")
    require(window >= 3, s"ewmaAnomalies: window=$window must be >= 3")
    val weights = (0 to window).map(j => math.pow(1.0 - alpha, j))
    val w = Window.partitionBy(col("__g")).orderBy(col("__t"))
    val base = series.select(col(groupCol).as("__g"),
        col(tCol).as("__t"), col(valueCol).cast("long").as("__x"))
      .filter(col("__t").isNotNull && col("__x").isNotNull)
    def lagged(j: Int): Column = lag(col("__x"), j).over(w)
    // fixed left-assoc weighted sums over the lag columns; a null lag
    // (series shorter than W) drops both the term and its weight
    def wsum(js: Range, wOf: Int => Double): (Column, Column) = {
      val terms = js.map { j =>
        (when(lagged(j).isNotNull, lit(wOf(j)) * lagged(j).cast("double"))
          .otherwise(lit(0.0)),
          when(lagged(j).isNotNull, lit(wOf(j))).otherwise(lit(0.0)))
      }
      (terms.map(_._1).reduceLeft(_ + _), terms.map(_._2).reduceLeft(_ + _))
    }
    val (numCur, denCur) = wsum(0 until window, j => weights(j))
    val (numPrev, denPrev) = wsum(1 to window, j => weights(j - 1))
    val trail = w.rowsBetween(-window, -1)
    val cnt = count(col("__x")).over(trail)
    val s1 = sum(col("__x")).over(trail)
    val s2 = sum(col("__x").cast("decimal(38,0)") * col("__x")).over(trail)
    val varNum = (cnt.cast("decimal(38,0)") * s2
      - s1.cast("decimal(38,0)") * s1).cast("double")
    // ANSI mode errors on ANY division by zero (doubles included), so
    // every guard must wrap the division, not just the consumer
    val sigma = when(cnt >= 3,
      sqrt(varNum / (cnt.cast("double") * (cnt - 1).cast("double"))))
    val prevEwma = when(denPrev > 0, numPrev / denPrev)
    base
      .withColumn("ewma", round(numCur / denCur, 6))
      .withColumn("__sig", sigma)
      .withColumn("anomaly",
        coalesce(col("__sig") > 0 &&
          abs(col("__x").cast("double") - prevEwma) > lit(k) * col("__sig"),
          lit(false)))
      .select(col("__g").as(groupCol), col("__t").as(tCol),
        col("__x").as(valueCol),
        col("ewma"), round(col("__sig"), 6).as("sigma"), col("anomaly"))
  }

  /** Holt double-exponential smoothing per group (Holt 1957; the linear-
    * trend rung above [[ewmaAnomalies]]' level-only EWMA): fold the
    * time-ordered series through
    *
    *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * with l_1 = y_1, b_1 = 0, and report the final level, trend, and the
    * `horizon`-step-ahead forecast l + h·b — the capacity-planning
    * number ("where is this series heading") a daily-volume monitor
    * actually pages on.
    *
    * Determinism: the recursion is inherently sequential, so it runs as
    * ONE ordered fold (`aggregate` over the group's time-sorted value
    * array) — both engines evaluate the identical double expressions in
    * the identical order (an external engine replays it as a recursive
    * CTE in lockstep on the row index), and defaults α = 0.5, β = 0.25
    * are exactly representable. Rounding happens once, at output.
    *
    * Scale: one exchange on the group key; per-group state is the
    * series itself, which for CALENDAR-indexed series is bounded by the
    * date range (150 days at sf0.1, ~3.7k rows for a decade of days) —
    * the same per-group-array contract as the Hampel/rolling-median
    * family, NOT a corpus-sized array. */
  def holtSmoothing(series: DataFrame, groupCol: String, tCol: String,
                    valueCol: String, alpha: Double = 0.5,
                    beta: Double = 0.25, horizon: Int = 7): DataFrame = {
    require(alpha > 0 && alpha < 1, s"holtSmoothing: alpha=$alpha outside (0,1)")
    require(beta > 0 && beta < 1, s"holtSmoothing: beta=$beta outside (0,1)")
    require(horizon >= 0, s"holtSmoothing: horizon=$horizon negative")
    val base = series.select(col(groupCol).as("__g"), col(tCol).as("__t"),
        col(valueCol).cast("double").as("__x"))
      .filter(col("__t").isNotNull && col("__x").isNotNull)
    val xs = transform(
      array_sort(collect_list(struct(col("__t"), col("__x")))),
      e => e.getField("__x"))
    def l(acc: Column) = acc.getField("l")
    def b(acc: Column) = acc.getField("b")
    def lNew(acc: Column, y: Column) =
      lit(alpha) * y + lit(1.0 - alpha) * (l(acc) + b(acc))
    val folded = aggregate(
      slice(col("__xs"), lit(2), greatest(size(col("__xs")) - 1, lit(0))),
      struct(element_at(col("__xs"), 1).as("l"), lit(0.0).as("b")),
      (acc, y) => struct(
        lNew(acc, y).as("l"),
        (lit(beta) * (lNew(acc, y) - l(acc)) + lit(1.0 - beta) * b(acc)).as("b")))
    base.groupBy(col("__g"))
      .agg(xs.as("__xs"))
      .withColumn("__st", folded)
      .select(col("__g").as(groupCol),
        size(col("__xs")).cast("long").as("n_points"),
        round(col("__st.l"), 6).as("level"),
        round(col("__st.b"), 6).as("trend"),
        round(col("__st.l") + lit(horizon.toDouble) * col("__st.b"), 6)
          .as(s"forecast$horizon"))
  }

  /** One-step forecast backtest of the two baselines every forecasting
    * effort must beat: naive (tomorrow = today) and seasonal-naive
    * (tomorrow = same weekday last week), scored as MAE over the series
    * — the sanity row above any Holt/ARIMA readout ([[holtSmoothing]]'s
    * reality check; if a model doesn't beat snaive, ship snaive).
    * Output: (group, method, n, mae) with one row per method.
    *
    * Determinism: per-day values are the exact micro-mean protocol;
    * absolute errors quantize to micro before the cross-day sums; one
    * division per output row at the edge, 6 dp. Only days where the
    * lagged forecast EXISTS score (n differs per method, by design).
    *
    * Scale: one exchange to the per-(group, day) table; both lags ride
    * ONE group-keyed window ordering; the method melt is a scan-side
    * union of two bounded aggregates. */
  def forecastBacktest(events: DataFrame, groupCol: String, tsCol: String,
                       valueCol: String, season: Int = 7): DataFrame = {
    require(season >= 2, s"forecastBacktest: season=$season must be >= 2")
    val daily = events
      .groupBy(col(groupCol).as("__g"), to_date(col(tsCol)).as("__d"))
      .agg(round(sum(round(col(valueCol) * 1000000).cast("long")) /
        (count(lit(1)) * 1000000.0), 6).as("__y"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__d"))
    val lagged = daily
      .withColumn("__f1", lag(col("__y"), 1).over(w))
      .withColumn("__fs", lag(col("__y"), season).over(w))
    def mae(fc: String, name: String) = lagged
      .filter(col(fc).isNotNull)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(abs(col("__y") - col(fc)) * 1e6, 0).cast("long"))
          .cast("double") / count(lit(1)) / 1e6, 6).as("mae"))
      .select(col("__g").as(groupCol), lit(name).as("method"),
        col("n"), col("mae"))
    mae("__f1", "naive").unionByName(mae("__fs", "seasonal_naive"))
      .orderBy(groupCol, "method")
  }

  /** Recency-weighted aggregate per group: each row weighs
    * w = exp(−age·ln2/halfLifeDays) relative to the table's newest
    * timestamp (so the operator is a pure function of the data, not the
    * wall clock) — the "recent behavior counts more" score a feature
    * store materializes per user (decayed spend, decayed event count).
    *
    * Determinism: age is an exact integer day count; the weight
    * quantizes to micro-units per DISTINCT age (one exp per age, then
    * round — the ln-micro-nat protocol's exp twin), so weighted sums
    * are exact decimal·integer arithmetic, order-free. The one libm exp
    * sits behind a 1e6 round; both engines feed it identical integer
    * arguments.
    *
    * Scale: the max-ts probe is a 1-row broadcast; then ONE map-side-
    * combined aggregation per group key. No window, no sort; the decay
    * never re-reads history because the weight depends only on the
    * row's own age (rescaling by the anchor is the classic trick that
    * makes exponential decay embarrassingly parallel). Output columns:
    * (group, n, decayed_sum, decayed_count, last_day). */
  def decayWeightedAgg(events: DataFrame, groupCol: String, tsCol: String,
                       valueCol: String,
                       halfLifeDays: Int = 30): DataFrame = {
    require(halfLifeDays >= 1, s"decayWeightedAgg: halfLifeDays=$halfLifeDays must be >= 1")
    val rows = events.select(col(groupCol).as("__g"),
        to_date(col(tsCol)).as("__d"),
        col(valueCol).cast("decimal(18,6)").as("__v"))
      .filter(col("__g").isNotNull && col("__d").isNotNull && col("__v").isNotNull)
    val anchor = rows.agg(max(col("__d")).as("__mx"))
    rows.crossJoin(broadcast(anchor))
      .withColumn("__age", datediff(col("__mx"), col("__d")).cast("double"))
      .withColumn("__w", round(
        exp(col("__age") * lit(-math.log(2.0) / halfLifeDays)) * 1e6, 0)
        .cast("long"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v") * col("__w")).as("__ws"),
        sum(col("__w")).as("__wc"),
        max(col("__d")).as("last_day"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__ws").cast("double") / 1e6, 6).as("decayed_sum"),
        round(col("__wc").cast("double") / 1e6, 6).as("decayed_count"),
        col("last_day"))
  }
}
