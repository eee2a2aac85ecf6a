package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: ordered funnels, cohort retention, and
  * statistical outlier flagging — the product-analytics surface over the
  * same events table the sessionization/windowing operators read.
  *
  * Scale: every operator here is one exchange on the user (or type) key.
  * The funnel CHAINS window aggregates over the same partitioning —
  * Catalyst plans consecutive same-key Window nodes over a single
  * exchange, so an s-stage funnel is still one shuffle, not s.
  */
object EventAnalytics {

  /** Ordered-funnel depth per user: depth d means the user performed
    * stages(0..d-1) in timestamp order (each stage strictly after the
    * previous stage's FIRST qualifying event — the standard "first touch"
    * funnel). Output: (userCol, funnel_depth). */
  def funnelDepth(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(col(userCol))
    val staged = stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val cond = if (i == 0) col(typeCol) === stage
        else col(typeCol) === stage && col(tsCol) > col(s"__t${i - 1}")
      df.withColumn(s"__t$i", min(when(cond, col(tsCol))).over(w))
    }
    // ascending fold leaves the DEEPEST stage's check outermost:
    // when(t_last, n)...otherwise(when(t_0, 1).otherwise(0))
    val depth = stages.indices.foldLeft(lit(0)) { (els, i) =>
      when(col(s"__t$i").isNotNull, i + 1).otherwise(els)
    }
    // the depth is constant per user, so this groupBy reuses the window's
    // user-key partitioning — no second exchange (a distinct() on
    // (user, depth) would re-hash on the composite key)
    staged.groupBy(col(userCol))
      .agg(max(depth.cast("long")).as("funnel_depth"))
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event; one row per (cohort_week, week_offset) counting the cohort's
    * users active in that later week. Two aggregations — per-user first
    * event (map-side combined), then the (cohort, offset) distinct-user
    * count — plus the cohort join back onto per-user-week activity,
    * co-partitioned on the user key. */
  def weeklyRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firsts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).as("cohort_week"))
    val active = events.select(col(userCol),
      date_trunc("week", col(tsCol)).as("__aw")).distinct()
    active.join(firsts, Seq(userCol))
      .groupBy(col("cohort_week"),
        floor(datediff(col("__aw"), col("cohort_week")) / 7).as("week_offset"))
      .agg(countDistinct(col(userCol)).as("n_active"))
  }

  /** Per-group z-score outliers: events whose value deviates from the
    * group mean by more than `zThreshold` sample standard deviations.
    * Mean/stddev are full-partition window aggregates over the group key
    * (one exchange); the flag compares on the 1e-6-ROUNDED z so an
    * engine's summation order cannot flip a boundary case. */
  def zScoreOutliers(events: DataFrame, groupCol: String, valueCol: String,
                     zThreshold: Double): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
    events
      .withColumn("__z", round(
        (col(valueCol) - avg(col(valueCol)).over(w)) /
          stddev_samp(col(valueCol)).over(w), 6))
      .filter(abs(col("__z")) > zThreshold)
      .withColumnRenamed("__z", "z")
  }

  /** Per-group ROBUST outliers via the modified z-score (Iglewicz &
    * Hoaglin, "How to detect and handle outliers", 1993): flag rows
    * where |0.6745·(v − median) / MAD| exceeds `zThreshold` (canonical
    * 3.5). Unlike [[zScoreOutliers]], median/MAD are themselves immune
    * to the outliers being hunted — the estimator a heavy-tailed
    * quality signal actually needs.
    *
    * Two tiny per-group aggregates (median, then median absolute
    * deviation around it), each broadcast back — no window over the
    * data; the base relation is scanned three times (cheap columnar
    * scans; persist upstream if it is expensive to produce). Groups
    * with MAD = 0 (a majority-constant value) flag NOTHING: the
    * modified z is undefined there, and the null comparison is
    * deliberately non-matching. The z is 6dp-rounded BEFORE the
    * threshold so an engine's last ulp cannot flip a boundary row. */
  def madOutliers(events: DataFrame, groupCol: String, valueCol: String,
                  zThreshold: Double = 3.5): DataFrame = {
    val med = events.groupBy(col(groupCol)).agg(
      round(expr(s"percentile($valueCol, 0.5)"), 6).as("__med"))
    val withMed = events.join(broadcast(med), Seq(groupCol))
    val mad = withMed.groupBy(col(groupCol)).agg(
      round(expr(s"percentile(abs($valueCol - __med), 0.5)"), 6).as("__mad"))
    withMed.join(broadcast(mad), Seq(groupCol))
      // the CASE guards the division itself: under ANSI semantics a
      // MAD-0 group would otherwise raise DIVIDE_BY_ZERO, not yield null
      .withColumn("mod_z", when(col("__mad") =!= 0, round(
        lit(0.6745) * (col(valueCol) - col("__med")) / col("__mad"), 6)))
      .filter(abs(col("mod_z")) > zThreshold)
      .drop("__med", "__mad")
  }

  /** Exact per-group trimmed mean: drop the floor(n·trim) smallest and
    * largest values (by the total (value, tie) order) and average the
    * middle — the robust center that, unlike [[winsorize]] (which
    * CLAMPS tails into the envelope), removes their influence
    * entirely; raw-minus-trimmed is itself the outlier-mass readout.
    *
    * Determinism: ranks come from [[graft.ops.Ranking.groupRowNumber]]
    * under the total (value, tie) order, so tied values at the cut are
    * admitted by tie-key — exact and stable, where a
    * percentile-threshold filter would admit ALL ties and change n.
    * Values fix to micro-units; sums are decimal(38); each mean is one
    * double division rounded 6 dp.
    *
    * Scale: one group-bucketed rank pass (micro-value prefix buckets —
    * no data-sized per-group sort window funneling a hot group) + a
    * |groups|-row counts broadcast + one aggregation. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  tieCol: String, trim: Double = 0.05): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trimmedMean: trim=$trim outside (0, 0.5)")
    val rows = df.select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * 1e6, 0).cast("long").as("__vm"),
        col(tieCol).as("__t"))
      .filter(col("__vm").isNotNull)
    val counts = rows.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    // monotone bucket (the groupRowNumber contract): equal-width bins
    // against the GLOBAL value bounds — pmod would wrap and break the
    // rank-offset ordering
    val (withB, bucket) = Ranking.valueBuckets(rows, "__vm")
    val ranked = Ranking.groupRowNumber(withB, Seq("__g"),
      Seq("__vm", "__t"), bucket, "__r")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // the cut is INTEGER arithmetic (n·trim as a basis-point product
    // with integral division) — a double CAST truncates in Spark but
    // ROUNDS in DuckDB, so floor(n·0.05) would diverge on exact halves
    val bp = math.round(trim * 10000).toInt
    ranked.join(broadcast(counts), Seq("__g"))
      .withColumn("__lo", expr(s"(__n * $bp) div 10000"))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n"),
        sum(dec(col("__vm"))).as("__sall"),
        sum(when(col("__r") > col("__lo") && col("__r") <= col("__n") - col("__lo"),
          dec(col("__vm")))).as("__skept"),
        sum(when(col("__r") > col("__lo") && col("__r") <= col("__n") - col("__lo"),
          1L).otherwise(0L)).as("n_kept"))
      .select(col("__g").as(groupCol), col("n"), col("n_kept"),
        round(col("__sall").cast("double") / 1e6 / col("n").cast("double"), 6)
          .as("mean_raw"),
        when(col("n_kept") > 0,
          round(col("__skept").cast("double") / 1e6
            / col("n_kept").cast("double"), 6)).as("mean_trimmed"))
  }

  /** Per-group winsorization: clip `valueCol` into its group's
    * [loQ, hiQ] exact-percentile envelope — the outlier TREATMENT twin
    * of [[zScoreOutliers]]'s detection (robust feature prep: tame heavy
    * tails without dropping rows). Appends `outCol` (the 6dp-rounded
    * clipped value) plus the per-group bounds `__wlo`/`__whi` the caller
    * may drop or keep for audit.
    *
    * Scale: one aggregation computes both bounds per group (map-side
    * partial into a tiny |groups|-row table) and broadcasts back — no
    * window over the data, no second exchange of the input. Exact
    * `percentile` here for oracle replay; at lake scale swap in the
    * mergeable [[Sketches.quantileSketchGrouped]] bounds, same clip
    * expression. */
  def winsorize(events: DataFrame, groupCol: String, valueCol: String,
                loQ: Double, hiQ: Double,
                outCol: String = "winsorized"): DataFrame = {
    require(0 <= loQ && loQ < hiQ && hiQ <= 1, s"need 0 <= $loQ < $hiQ <= 1")
    val bounds = events.groupBy(col(groupCol)).agg(
      round(expr(s"percentile($valueCol, $loQ)"), 6).as("__wlo"),
      round(expr(s"percentile($valueCol, $hiQ)"), 6).as("__whi"))
    events.join(broadcast(bounds), Seq(groupCol))
      .withColumn(outCol,
        round(least(greatest(col(valueCol), col("__wlo")), col("__whi")), 6))
  }

  /** Per-group ordinary least squares of `yCol` on an INTEGER-valued
    * `xCol` (an hour, a day index, a bucket) via the closed form
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * — the trend-per-group primitive (is click value drifting by hour?)
    * as ONE map-side-combined aggregation, no ML library, no iteration.
    *
    * Determinism: y is quantized to micro-units and every sum runs in
    * decimal(38) (Spark) / exact wide integers (the SQL oracle), so the
    * numerator and denominator are EXACT integers; the only floating-
    * point steps are the final casts and one division each for slope,
    * intercept, and r² — fixed expression shapes that replay across
    * engines. A constant-x group yields null slope/intercept/r² rather
    * than a division blow-up.
    *
    * Scale: one aggregation; five running sums per group. */
  def groupOls(events: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = round(col(yCol).cast("double") * 1e6, 0).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // per-row products stay in long (x is a small integer, y_micro
    // ≤ ~2^60 squared still fits for |y| < ~3e3); only the group SUMS
    // widen to decimal(38), where overflow is impossible at any n
    val agg = events.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(dec(x)).as("__sx"),
      sum(dec(y)).as("__sy"),
      sum(dec(x * x)).as("__sxx"),
      sum(dec(x * y)).as("__sxy"),
      sum(dec(y * y)).as("__syy"))
    val n = dec(col("n"))
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    val deny = n * col("__syy") - col("__sy") * col("__sy")
    val slopeMicro = num.cast("double") / den.cast("double")
    val meanX = col("__sx").cast("double") / col("n")
    val meanY = col("__sy").cast("double") / (col("n") * lit(1e6))
    agg.select(
      col(groupCol), col("n"),
      when(den =!= lit(0), round(slopeMicro / lit(1e6), 6)).as("slope"),
      when(den =!= lit(0),
        round(meanY - slopeMicro / lit(1e6) * meanX, 6)).as("intercept"),
      when(den =!= lit(0) && deny =!= lit(0),
        round(num.cast("double") * num.cast("double")
          / (den.cast("double") * deny.cast("double")), 6)).as("r2"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * each user's events ordered by (ts, tie-break) yield consecutive
    * (state, next-state) pairs; output is the transition count and the
    * row-normalized probability P(to | from), rounded to 6 dp.
    *
    * The behavioral-model primitive next to [[funnelDepth]]: the funnel
    * checks ONE prescribed path, the transition matrix estimates the
    * whole first-order process (and feeds anomaly scoring — an observed
    * sequence with many low-probability transitions is bot-shaped).
    *
    * Scale: one exchange on the user key for the lead(); the pair
    * aggregation map-side combines down to |states|² rows, and the
    * normalizing window runs over that tiny table — never the events. */
  def markovTransitions(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_state"), col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_state"))
    pairs.withColumn("prob",
      round(col("n").cast("double") / sum(col("n")).over(wf).cast("double"), 6))
  }

  /** Cohort-value (LTV) triangle: users grouped by first-seen week,
    * each later event credited to the cohort's age in weeks — one row
    * per (cohort_week, age_week) with active users and value sum, the
    * matrix whose rows are read as "how does a January user's spend
    * decay" and whose columns fund the retention forecast.
    * [[weeklyRetention]]'s value-weighted generalization.
    *
    * Determinism: cohort = ISO Monday-truncated week of the user's min
    * timestamp (one user window); age = floor(day-diff/7) integer
    * arithmetic; values sum in micro-unit decimals. Scale: one
    * user-keyed window exchange, then a map-side-combining
    * (cohort, age) aggregation — |weeks|² output rows. */
  def cohortValueMatrix(events: DataFrame, userCol: String, tsCol: String,
                        valueCol: String): DataFrame = {
    val wUser = Window.partitionBy(col(userCol))
    events
      .withColumn("__cw",
        date_trunc("week", min(col(tsCol)).over(wUser)).cast("date"))
      .withColumn("__age",
        floor(datediff(to_date(col(tsCol)), col("__cw")) / 7).cast("long"))
      .groupBy(col("__cw").as("cohort_week"), col("__age").as("age_week"))
      .agg(countDistinct(col(userCol)).as("n_users"),
        round(sum(round(col(valueCol) * 1e6, 0).cast("decimal(38,0)"))
          .cast("double") / 1e6, 6).as("value"))
  }

  /** First-touch / last-touch conversion attribution: every conversion
    * event's value is credited to the channel (event type) of the
    * user's FIRST and of their LAST preceding non-conversion event —
    * the two bookends of the attribution-model spectrum, reported side
    * by side per channel so their disagreement (first-touch favors
    * discovery channels, last-touch favors closers) is the readout.
    *
    * Determinism: within-user order is the total (ts, tieCol) order;
    * both touches are IGNORE-NULLS scans over frames ending at the row
    * BEFORE the conversion (a conversion never attributes to itself or
    * to later events); values accumulate in decimal(18,6).
    * Conversions with no preceding touch drop (nothing to credit).
    *
    * Scale: both touch scans are two frames over ONE user-keyed window
    * ordering; the two per-channel aggregations run over the
    * conversions only and full-outer join on the ≤|channels| key. */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, valueCol: String, tieCol: String,
                  conversionType: String): DataFrame = {
    val touch = when(col(typeCol) =!= conversionType, col(typeCol))
    val wPast = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val conv = events
      .withColumn("__first", first(touch, ignoreNulls = true).over(wPast))
      .withColumn("__last", last(touch, ignoreNulls = true).over(wPast))
      .filter(col(typeCol) === conversionType)
      .select(col("__first"), col("__last"),
        col(valueCol).cast("decimal(18,6)").as("__v"))
    val byFirst = conv.filter(col("__first").isNotNull)
      .groupBy(col("__first").as("channel"))
      .agg(count(lit(1)).as("n_first"), sum(col("__v")).as("__vf"))
    val byLast = conv.filter(col("__last").isNotNull)
      .groupBy(col("__last").as("channel"))
      .agg(count(lit(1)).as("n_last"), sum(col("__v")).as("__vl"))
    byFirst.join(byLast, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        round(coalesce(col("__vf"), lit(0)).cast("double"), 6)
          .as("value_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        round(coalesce(col("__vl"), lit(0)).cast("double"), 6)
          .as("value_last"))
  }

  /** Time-to-convert distribution: per user the seconds from their
    * first `startType` event to their first `endType` event AT OR
    * AFTER it, summarized as user count + exact p50/p90 — the latency
    * number behind any funnel ("how long from first view to first
    * purchase"). Users who never complete are counted separately
    * (`n_started`), not silently dropped into a biased median.
    *
    * Scale: the first-start scan is one user-keyed window; the
    * completion is a conditional aggregation in the SAME user grouping
    * — no self-join of the event table against itself. The exact
    * percentile is a driver-bounded aggregation buffer (the q50
    * contract; swap to the grouped quantile sketch at lake scale). */
  def timeToConvert(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, startType: String,
                    endType: String): DataFrame = {
    val wUser = Window.partitionBy(col(userCol))
    val perUser = events
      .withColumn("__start",
        min(when(col(typeCol) === startType, col(tsCol))).over(wUser))
      .filter(col("__start").isNotNull)
      .groupBy(col(userCol))
      .agg(min(when(col(typeCol) === endType &&
          col(tsCol) >= col("__start"), col(tsCol))).as("__end"),
        min(col("__start")).as("__s"))
      .select(
        (unix_timestamp(col("__end")) - unix_timestamp(col("__s")))
          .as("__delta"))
    perUser.agg(
      count(lit(1)).as("n_started"),
      sum(when(col("__delta").isNotNull, 1L).otherwise(0L)).as("n_converted"),
      round(expr("percentile(__delta, 0.5)"), 6).as("p50_seconds"),
      round(expr("percentile(__delta, 0.9)"), 6).as("p90_seconds"))
  }

  /** Top-K session opening paths: the first `depth` event types of each
    * gap-defined session, joined with ">" — the entry-flow table behind
    * a funnel hypothesis ([[funnelDepth]] checks ONE prescribed path;
    * this surfaces which paths actually happen, and a bot farm shows up
    * as one über-dominant exact path).
    *
    * Determinism: within-session order is (ts, event_id) — a total
    * order; the per-session list is collected AFTER the rn <= depth cut
    * (≤ depth elements) and array_sort'ed on (rn, type), so
    * collect_list's partition order can't leak. Ranking ties break by
    * path ascending.
    *
    * Scale: sessionize's lag, the row_number, and the (user, session)
    * path aggregation all live inside ONE user-keyed exchange (same
    * partition key, finer grouping); the path-count aggregation
    * map-side combines; top-K is a TakeOrderedAndProject. */
  def sessionPaths(events: DataFrame, gapMinutes: Int, depth: Int = 3,
                   topK: Int = 20): DataFrame = {
    require(depth >= 1 && topK >= 1,
      s"sessionPaths: depth=$depth and topK=$topK must be >= 1")
    val sess = TimeSeries.sessionize(events, gapMinutes)
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val paths = sess
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= depth)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__rn").as("r"),
          col("event_type").as("t")))),
        x => x.getField("t")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** RFM segmentation (Hughes 1994): per customer the recency (days
    * from last order to the table horizon), frequency (order count)
    * and monetary (exact decimal amount sum), each scored into
    * quintiles 1–5 — the classic customer-value grid, and the same
    * shape a curation pipeline uses to tier data SOURCES (recently
    * crawled / frequently updated / high-volume).
    *
    * Quintiles are EXACT and tie-stable without a data-sized ntile
    * window: for each metric the # of strictly-smaller customers
    * (`before`) comes from [[Ranking.globalPrefixSum]] over the
    * distinct-value counts table (1024 monotone buckets), and
    * score = before·5 div n + 1 — integer division on exact longs, so
    * tied values always share a score (ntile would split them by
    * partition luck). r_score is reversed (5 = most recent). Monetary
    * sums accumulate in decimal(18,2) — a double sum's tree order
    * would be run-dependent.
    *
    * Scale: one customer aggregation, then ONE tagged rank pipeline for
    * all three metrics — the per-customer metrics melt to (key, tag,
    * value) rows (decimal(28,2) holds every metric exactly: recency and
    * frequency are small integers, monetary is already that type), the
    * strictly-smaller counts come from a single
    * [[Ranking.valueCountsBeforeByTag]] pass, and scores fold back with
    * one (tag, value) join + one per-customer pivot aggregation. Round
    * 13 measured the previous three-parallel-pipeline form at ~18
    * stages whose task-setup/closure-deserialization overhead — not row
    * count — dominated the query (q222 bench history); stage count is
    * the real cost of rank preambles over reduced tables. Output: one
    * row per customer (recency_days, frequency, monetary, r/f/m scores,
    * rfm cell). */
  def rfmScores(orders: DataFrame, custCol: String, dateCol: String,
                amountCol: String): DataFrame = {
    val dec = "decimal(28,2)"
    val horizon = orders.agg(max(to_date(col(dateCol))).as("__hz"))
    val cust = orders
      .groupBy(col(custCol).as("__c"))
      .agg(max(to_date(col(dateCol))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)")).as("__mon"))
      .crossJoin(broadcast(horizon))
      .select(col("__c"),
        datediff(col("__hz"), col("__last")).cast("long").as("recency_days"),
        col("frequency"), col("__mon"))
      // feeds n, the melted metric pass, and the final join
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => cust.unpersist())
    val nRow = cust.agg(count(lit(1)).as("__n"))
    // (key, tag, value): every metric of every customer, exactly typed
    val melted = cust.select(col("__c"), explode(array(
        struct(lit("r").as("__tag"), col("recency_days").cast(dec).as("__v")),
        struct(lit("f").as("__tag"), col("frequency").cast(dec).as("__v")),
        struct(lit("m").as("__tag"), col("__mon").cast(dec).as("__v"))))
        .as("__x"))
      .select(col("__c"), col("__x.__tag").as("__tag"), col("__x.__v").as("__v"))
    val counts = melted.groupBy(col("__tag"), col("__v"))
      .agg(count(lit(1)).as("__t"))
    // (tag, value -> quintile score): before = strictly-smaller count
    val scored = Ranking.valueCountsBeforeByTag(counts, "__tag", "__v", "__t")
      .crossJoin(broadcast(nRow))
      .select(col("__tag"), col("__v"),
        (expr("(__before * 5) div __n") + 1).cast("long").as("__s"))
    val perCust = melted.join(scored, Seq("__tag", "__v"))
      .groupBy(col("__c"))
      .agg(max(when(col("__tag") === "r", col("__s"))).as("__sr"),
        max(when(col("__tag") === "f", col("__s"))).as("__sf"),
        max(when(col("__tag") === "m", col("__s"))).as("__sm"))
    cust.join(perCust, Seq("__c"))
      .select(col("__c").as(custCol),
        col("recency_days"), col("frequency"),
        round(col("__mon").cast("double"), 2).as("monetary"),
        (lit(6L) - col("__sr")).as("r_score"),
        col("__sf").as("f_score"), col("__sm").as("m_score"),
        ((lit(6L) - col("__sr")) * 100 + col("__sf") * 10 + col("__sm"))
          .as("rfm"))
  }
}
