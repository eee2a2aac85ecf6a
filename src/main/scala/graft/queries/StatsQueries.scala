package graft.queries

import graft.Tables
import graft.ops.{Association, DataQuality, EventAnalytics, Experiment, Sketches}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical / scalar-function completeness batch: exact percentiles,
  * moment aggregates, string distance, event-time part extraction. Each
  * with a DuckDB oracle.
  */
object StatsQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact linear-interpolation percentiles per group. (At lake scale the
    // approx_percentile sketch replaces this one-liner; exact here so the
    // oracle can hash-match.)
    "q50_percentiles" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))
        .orderBy("o_orderpriority")
    }),

    // Mergeable quantile sketch vs exact (the lake-scale replacement
    // q50's own comment promises): deterministic bottom-k row sample
    // (k=256) by portable hash-uniform of the row key, nearest-rank
    // estimates, alongside the exact interpolated percentiles. The
    // sketch is replayed bit-for-bit by the oracle — q117's
    // estimate-vs-exact pattern; SketchesSpec pins the merge law and
    // the rank-error band.
    "q118_quantile_sketch" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val est = Sketches.quantileEstimate(
        Sketches.quantileSketch(o, "o_orderkey", "o_totalprice", k = 256),
        Seq(0.5, 0.9, 0.99))
      val exact = o.agg(
        expr("percentile(o_totalprice, 0.5)").as("__e50"),
        expr("percentile(o_totalprice, 0.9)").as("__e90"),
        expr("percentile(o_totalprice, 0.99)").as("__e99"))
      est.crossJoin(broadcast(exact))
        .select(col("q"), col("q_est"),
          round(when(col("q") === 0.5, col("__e50"))
            .when(col("q") === 0.9, col("__e90"))
            .otherwise(col("__e99")), 6).as("exact"))
        .orderBy("q")
    }),

    // Data-quality expectations report: four checks, each one tiny
    // aggregate row — null rate, out-of-range rate, key uniqueness,
    // referential integrity orders->customer.
    "q108_dq_report" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      DataQuality.nullCheck(o, "o_orderpriority")
        .unionByName(DataQuality.rangeCheck(o, "o_totalprice", 1000.0, 300000.0))
        .unionByName(DataQuality.uniqueCheck(o, Seq("o_orderkey")))
        .unionByName(DataQuality.uniqueCheck(o, Seq("o_custkey")))
        .unionByName(DataQuality.referenceCheck(o, Tables.customer(s, dir),
          "o_custkey", "c_custkey"))
        .orderBy("check_name")
    }),

    // Moment aggregates: correlation, sample stddev/variance, skew proxy.
    "q51_moment_aggs" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(corr(col("value"), col("user_id")), 6).as("corr_vu"),
          round(stddev_samp(col("value")), 6).as("sd_value"),
          round(var_samp(col("value")), 6).as("var_value"),
          round(avg(col("value")), 6).as("avg_value"))
        .orderBy("event_type")
    }),

    // String functions: edit distance of each region name to a probe,
    // case/substring manipulation.
    // Fuzzy record linkage over the part-name dictionary: first-token
    // blocking + the native codegen'd Jaro-Winkler kernel, thresholded
    // on the 6dp-rounded score so the cut replays in DuckDB.
    "q139_jw_match" -> ((s, dir) => {
      graft.ops.Dedup.jaroWinklerDictJoin(Tables.part(s, dir), "p_name", 0.8)
        .orderBy("name_a", "name_b")
    }),

    "q52_string_funcs" -> ((s, dir) => {
      Tables.nation(s, dir)
        .select(
          col("n_nationkey"),
          upper(col("n_name")).as("upper_name"),
          substring(col("n_name"), 1, 3).as("prefix3"),
          length(col("n_name")).cast("long").as("name_len"),
          levenshtein(lower(col("n_name")), lit("united states")).cast("long").as("lev_us"))
        .orderBy("n_nationkey")
    }),

    // CUBE: all grouping-set combinations in one pass.
    // Equal-depth (quantile) binning: quartile edges from one exact-
    // percentile reduce, then codegen'd comparisons — no global ntile
    // window. Counts per bin prove ~equal depth.
    "q86_equidepth_bin" -> ((s, dir) => {
      graft.ops.Generalization
        .equalDepthBin(Tables.orders(s, dir), "o_totalprice", 4, "depth_bin")
        .groupBy(col("depth_bin"))
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
        .orderBy("depth_bin")
    }),

    // PIVOT with an explicit value list (never the inferred-domain form,
    // which needs an extra distinct pass and breaks column determinism
    // at scale). CASE-based oracle: same result, portable SQL.
    "q84_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }),

    "q57_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Explicit GROUPING SETS — the third member of the multi-grouping
    // family (q47 rollup, q57 cube): exactly the named subtotal layouts,
    // no full cross product. One expand + one aggregation exchange.
    "q159_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Partitioned-lake round-trip: write orders partitioned by status to a
    // tmp dir (hive-style layout), read back, reproduce the parquet truth.
    // PartitionPruningSpec proves filters prune to single partitions.
    "q59_partitioned_roundtrip" -> ((s, dir) => {
      val slice = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val path = graft.util.Scratch.dir(s, "part_orders")
      slice.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Bucketed co-located join: both sides written hash-bucketed and
    // bucket-sorted on the join key (the one-time ingest shuffle), then
    // join + aggregate run with ZERO exchanges — the 100 TB layout for
    // repeatedly-joined fact tables. LayoutSpec asserts the exchange-free
    // plan; the oracle checks the result equals a plain join. The `merge`
    // hint pins sort-merge join (a broadcast would hide the layout at toy
    // scale).
    "q95_bucketed_join" -> ((s, dir) => {
      import graft.sources.BucketedTable
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val (to, tc) = (graft.util.Scratch.table(s, "graft_bkt_orders"),
        graft.util.Scratch.table(s, "graft_bkt_customer"))
      BucketedTable.write(o, to, "custkey", 8, Seq("custkey"))
      BucketedTable.write(c, tc, "custkey", 8, Seq("custkey"))
      BucketedTable.read(s, to).hint("merge")
        .join(BucketedTable.read(s, tc), Seq("custkey"))
        .groupBy("custkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("custkey")
    }),

    // Small-file compaction roundtrip: 64 tiny fragments rewritten into
    // range-clustered target-size files; content must survive bit-exact.
    "q96_compact_roundtrip" -> ((s, dir) => {
      val frag = graft.util.Scratch.dir(s, "frag_docs")
      val comp = graft.util.Scratch.dir(s, "compact_docs")
      Tables.documents(s, dir).repartition(64).write.mode("overwrite").parquet(frag)
      graft.sources.Compaction.compact(s, frag, comp, "doc_id",
        targetBytes = 128L * 1024 * 1024)
      s.read.parquet(comp)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Grouped quantile sketch vs exact: an independent bottom-k sample
    // per order priority in ONE group-keyed exchange (map-side
    // WindowGroupLimit), nearest-rank estimates beside the exact
    // per-group percentiles — "quantiles by tenant" without buffering
    // any group's full value set.
    "q121_quantile_grouped" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val est = Sketches.quantileEstimateGrouped(
        Sketches.quantileSketchGrouped(o, "o_orderpriority", "o_orderkey",
          "o_totalprice", k = 128),
        "o_orderpriority", Seq(0.5, 0.9))
      val exact = o.groupBy("o_orderpriority").agg(
        expr("percentile(o_totalprice, 0.5)").as("__e50"),
        expr("percentile(o_totalprice, 0.9)").as("__e90"))
      est.join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("q"), col("q_est"),
          round(when(col("q") === 0.5, col("__e50")).otherwise(col("__e90")), 6)
            .as("exact"))
        .orderBy("o_orderpriority", "q")
    }),

    // Z-order (Morton) values + layout roundtrip: orders rewritten
    // z-clustered on (custkey, orderkey) buckets, then read back with
    // each row's z-value — the interleave is plain bit arithmetic the
    // oracle replays exactly, and the roundtrip proves the rewrite
    // loses nothing. ZOrderSpec proves the locality property (bounded
    // per-file ranges in BOTH dimensions) that makes it a layout op.
    "q120_zorder_layout" -> ((s, dir) => {
      val in = graft.util.Scratch.dir(s, "zin")
      val out = graft.util.Scratch.dir(s, "zout")
      Tables.orders(s, dir).write.mode("overwrite").parquet(in)
      graft.sources.ZOrder.compactZOrder(s, in, out,
        "o_custkey", "o_orderkey", bits = 8, targetBytes = 16L * 1024 * 1024)
      s.read.parquet(out)
        .select(col("o_orderkey"),
          graft.sources.ZOrder.zValue(
            pmod(col("o_custkey"), lit(256)).cast("long"),
            pmod(col("o_orderkey"), lit(256)).cast("long"), 8).as("zval"))
        .orderBy("o_orderkey")
    }),

    // Skew-mitigation: salted two-stage aggregation must equal the plain
    // group-by (the oracle computes it directly).
    "q54_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedAgg(Tables.lineitem(s, dir),
        keys = Seq("l_returnflag"), spreadCol = "l_orderkey",
        sumCol = "l_extendedprice", saltBuckets = 16)
        .orderBy("l_returnflag")
    }),

    // Skew-mitigation: salted inner JOIN (big side salted, small side
    // replicated into every salt shard) must equal the plain join — the
    // oracle computes the plain join directly. Spread lineitem's hot
    // partkeys over 8 reducers.
    "q91_salted_join" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).withColumnRenamed("p_partkey", "l_partkey")
      graft.ops.Skew.saltedJoin(l, p, keys = Seq("l_partkey"),
          spreadCol = "l_orderkey", saltBuckets = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("p_brand")
    }),

    // Event-time part extraction + per-part aggregation (dow normalized to
    // 0=Sunday, matching DuckDB's extract(dow)).
    // Daily distinct-user estimates from per-day KMV states (k=64)
    // beside the exact counts — the dashboard query a 100 TB event lake
    // answers from bounded sketch state instead of a per-day
    // count-distinct over raw user ids.
    "q132_daily_distinct_users" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      val est = Sketches.kmvEstimateGrouped(
        Sketches.kmvSketchGrouped(e, "day", "user_id", k = 64), "day", k = 64)
      val exact = e.groupBy("day").agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, "day").orderBy("day")
    }),

    // Key-skew pre-flight on the supplier key (the q54/q91 salting
    // decision input): one row of exact skew statistics.
    "q134_skew_report" -> ((s, dir) => {
      DataQuality.skewReport(Tables.lineitem(s, dir), "l_suppkey")
    }),

    // One-pass column profile over orders: unique key, high-card FK, and
    // two low-card enums in a single stack-melted scan.
    "q137_column_profile" -> ((s, dir) => {
      DataQuality.columnProfile(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")
    }),

    // Chi-square independence of order status vs priority + Cramér's V:
    // the association audit for a would-be-independent pair of columns.
    "q180_chi2_indep" -> ((s, dir) => {
      DataQuality.chiSquareIndependence(Tables.orders(s, dir),
        "o_orderstatus", "o_orderpriority")
    }),

    // Exact two-sample KS statistic over the same pre-/post-1998 split
    // q169 bins: D is binning-free, the sharper shape-drift companion.
    "q176_ks_test" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cut = lit("1998-01-01").cast("date")
      DataQuality.ksTest(
        o.filter(col("o_orderdate").cast("date") < cut),
        o.filter(col("o_orderdate").cast("date") >= cut),
        "o_totalprice")
    }),

    // Benford first-digit audit of lineitem extended prices: observed
    // leading-digit mix vs log10(1 + 1/d), chi-square in micro-units.
    "q177_benford" -> ((s, dir) => {
      DataQuality.benfordAudit(Tables.lineitem(s, dir), "l_extendedprice")
        .orderBy("digit")
    }),

    // Mutual information + uncertainty coefficients for order status vs
    // priority — "how many bits does one leak about the other", the
    // information-theoretic companion to q180's chi-square on the same
    // pair (micro-nat integer-ln terms, q137 idiom).
    "q189_mutual_info" -> ((s, dir) => {
      DataQuality.mutualInformation(Tables.orders(s, dir),
        "o_orderstatus", "o_orderpriority")
    }),

    // Incrementally-maintained materialized aggregate: build on a third
    // of orders, append the other two thirds as O(batch) snapshot
    // deltas, refresh the view from ONLY the delta dirs each time —
    // and the merged view hash-matches a full GROUP BY recompute over
    // everything. The corpus is read once at build; each refresh reads
    // delta + view keys, never the table.
    "q198_incremental_view" -> ((s, dir) => {
      import graft.sources.{IncrementalView, SnapshotStore}
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      // per-invocation scratch: a fixed path here let a concurrent run
      // commit/delete under this one mid-read (the round-11 hash flake)
      val table = graft.util.Scratch.dir(s, "ivmq_t")
      val view = graft.util.Scratch.dir(s, "ivmq_v")
      val keys = Seq("o_orderstatus", "o_orderpriority")
      SnapshotStore.commit(o.filter(col("o_orderkey") % 3 === 0), table, "b0")
      IncrementalView.build(s, table, view, keys, Seq("o_totalprice"))
      SnapshotStore.commitAppend(o.filter(col("o_orderkey") % 3 === 1), table, "b1")
      IncrementalView.refresh(s, table, view, keys, Seq("o_totalprice"))
      SnapshotStore.commitAppend(o.filter(col("o_orderkey") % 3 === 2), table, "b2")
      IncrementalView.refresh(s, table, view, keys, Seq("o_totalprice"))
      // Emit the exact integer CENT sum, never a double: the r15 edge
      // cast to double assumed Spark's one-rounding Decimal.toDouble
      // and DuckDB's two-rounding int128->double-then-divide agree,
      // which holds only while the micro sum stays under 2^53 (fails
      // ~sf1 by 1 ulp). o_totalprice is a 2-dp amount, so decimal
      // sum x 100 is an exact integer on both engines at every SF —
      // no IEEE conversion anywhere in the dumped column.
      val out = IncrementalView.read(s, view)
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n_rows"),
          (col("sum_o_totalprice") * 100).cast("long").as("sum_cents"))
        .orderBy("o_orderstatus", "o_orderpriority")
      // The view is group-sized (|statuses| × |priorities| keys), so pin
      // the rows HERE, while this invocation's scratch chain is known
      // intact — the returned frame then has no dependence on scratch
      // storage whose lifetime the harness controls (bounded-by-contract
      // collect, same family as the DP ledger / PQ codebooks). First
      // assert the merged view accounts for every corpus row: a poisoned
      // chain (e.g. scratch swept mid-sequence → refresh silently no-ops)
      // keeps all keys but drops a batch — right rows, wrong values. Fail
      // LOUDLY instead of dumping a silently-wrong result.
      val rows = out.collect()
      val viewTotal = rows.map(_.getLong(rows.head.fieldIndex("n_rows"))).sum
      val corpusTotal = o.count()
      require(viewTotal == corpusTotal,
        s"q198: merged view covers $viewTotal rows but the corpus has " +
          s"$corpusTotal — an append/refresh was lost (poisoned scratch chain?)")
      // Provenance sidecar (written by Verify beside the dump): chain
      // manifest + canonical md5 of THESE collected rows. A future red
      // gate row is then attributable in one read — if this md5 matches
      // the oracle's values but the dumped parquet doesn't, the
      // dump/compare path (not the view algebra) is guilty.
      val canon = rows.map(_.toSeq.mkString("|")).mkString("\n")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val batches = Seq(0, 1, 2).map(b =>
        o.filter(col("o_orderkey") % 3 === b).count())
      graft.Provenance.record(
        s"""{"query": "q198_incremental_view", "table_dir": "$table",
           | "view_dir": "$view", "batch_rows": [${batches.mkString(", ")}],
           | "corpus_rows": $corpusTotal, "view_rows_sum": $viewTotal,
           | "n_keys": ${rows.length}, "rows_md5": "$md5"}""".stripMargin)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    // Per-type Theil-Sen robust trend of the daily mean event value —
    // median-of-pairwise-slopes, so a single corrupted day cannot hijack
    // the trend the way it would OLS (q178's companion). Daily means are
    // exact decimal sums divided once in IEEE; slopes round to 6 dp
    // before the explicit rank-selection median.
    "q196_theil_sen" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("y"))
        .select(col("event_type"),
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("double").as("x"),
          col("y"))
      DataQuality.theilSen(daily, "event_type", "x", "y")
        .orderBy("event_type")
    }),

    // Two-sided CUSUM over each event type's daily-mean series: running
    // drift accumulators in exact micro-units, alarms where they cross
    // 4σ. q196's robust-trend companion — Theil-Sen says how fast a
    // series drifts, CUSUM says WHEN it shifted.
    // Reference-distribution percentile scoring: every third order's
    // total price scored against the OTHER orders' price distribution —
    // the per-row drift stamp a feature store applies at serving time
    // (PSI q169 is the binned corpus view; this is the row view).
    "q264_ref_percentile" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      DataQuality.refPercentile(
        o.filter(col("o_orderkey") % 3 =!= 0),
        o.filter(col("o_orderkey") % 3 === 0),
        "o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Welch's unequal-variance t-test per event type: even- vs odd-user
    // cohorts on event value — the A/B significance primitive q205's
    // proportion z-test lacks for CONTINUOUS metrics. Exact decimal
    // moments, micro-rounded t, Welch-Satterthwaite df.
    "q260_welch_ttest" -> ((s, dir) => {
      DataQuality.welchTTest(
        Tables.events(s, dir).withColumn("__cohort", col("user_id") % 2 === 0),
        "event_type", "__cohort", "value")
        .orderBy("event_type")
    }),

    // Benjamini-Hochberg FDR over the q260 Welch tests: p-values from the
    // portable A&S 26.2.17 normal CDF on the micro-rounded z (df_w is in
    // the thousands, so normal ~ t), step-up rule at alpha = 0.05.
    "q276_bh_fdr" -> ((s, dir) => {
      val t = DataQuality.welchTTest(
        Tables.events(s, dir).withColumn("__cohort", col("user_id") % 2 === 0),
        "event_type", "__cohort", "value")
      val withP = t.select(col("event_type"), col("t_micro"),
        round(lit(2.0) * (lit(1.0)
          - DataQuality.normalCdf(abs(col("t_micro") / lit(1e6)))), 9)
          .as("p_value"))
      DataQuality.bhFdr(withP, "event_type", "p_value", alpha = 0.05)
        .orderBy("event_type")
    }),

    // Holt double-exponential smoothing of daily volumes per event type:
    // final level/trend and the 7-day-ahead forecast from one ordered
    // fold (the oracle replays it as a lockstep recursive CTE).
    "q275_holt_forecast" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      graft.ops.TimeSeries.holtSmoothing(daily, "event_type", "day", "x")
        .orderBy("event_type")
    }),

    // Hampel filter: rolling 7-day median + rolling MAD per event type,
    // the robust outlier flag a telemetry pipeline runs where a rolling
    // MEAN would be hijacked by the very spike it is looking for. Exact
    // small-window medians via sorted frame arrays (deterministic:
    // collect_list follows the window order); only full windows flag.
    // One group-keyed exchange; frame arrays are 7 doubles, never
    // data-sized.
    "q257_rolling_median" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("y"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
      daily.withColumn("__win", collect_list(col("y")).over(w))
        .filter(size(col("__win")) === 7)
        .withColumn("med", element_at(array_sort(col("__win")), 4))
        .withColumn("mad", element_at(
          array_sort(transform(col("__win"), v => abs(v - col("med")))), 4))
        .select(col("event_type"), col("day"), col("y"), col("med"), col("mad"),
          (col("mad") > 0 &&
            abs(col("y") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"))
            .as("is_outlier"))
        .orderBy("event_type", "day")
    }),

    "q199_cusum" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("y"))
        .select(col("event_type"),
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("double").as("x"),
          col("y"))
      DataQuality.cusum(daily, "event_type", "x", "y")
        .orderBy("event_type")
    }),

    // Functional-dependency audit over orders: is o_orderkey really a
    // key for status (yes), does customer determine status (no — g3
    // counts the rows you'd have to drop to make it true), and does
    // adding the date to the lhs repair it (composite-key path).
    "q200_fd_violations" -> ((s, dir) => {
      DataQuality.fdViolations(Tables.orders(s, dir), Seq(
          (Seq("o_orderkey"), "o_orderstatus"),
          (Seq("o_custkey"), "o_orderstatus"),
          (Seq("o_custkey", "o_orderdate"), "o_orderstatus")))
        .orderBy("fd")
    }),

    // Sample ACF r_1..r_7 of each event type's daily-mean series —
    // the seasonality fingerprint next to q196's trend and q199's
    // changepoint, all three over the identical daily construction.
    "q201_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("y"))
        .select(col("event_type"),
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("double").as("x"),
          col("y"))
      DataQuality.autocorrelation(daily, "event_type", "x", "y", maxLag = 7)
        .orderBy("event_type", "lag")
    }),

    // Volume-weighted median price per return flag: the robust center
    // when each line carries unequal mass.
    "q214_weighted_median" -> ((s, dir) => {
      DataQuality.weightedMedian(Tables.lineitem(s, dir),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag")
    }),

    // RFM quintile segmentation of customers from orders — exact
    // tie-stable quintiles via the strictly-smaller-count identity
    // (before*5 div n + 1), no data-sized ntile window.
    "q222_rfm" -> ((s, dir) => {
      EventAnalytics.rfmScores(Tables.orders(s, dir),
          "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    }),

    // Pairwise correlation matrix over lineitem's four numeric columns
    // from ONE aggregation pass (6 pairs x 5 moment sums, single scan).
    "q211_corr_matrix" -> ((s, dir) => {
      DataQuality.corrMatrix(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    }),

    // Rolling 14-day correlation between click and purchase volumes:
    // watches whether the coupling itself decays — the leading
    // indicator of an instrumentation break.
    "q251_rolling_corr" -> ((s, dir) => {
      graft.ops.TimeSeries.rollingCorr(Tables.events(s, dir),
          "event_type", "ts", "click", "purchase", window = 14, minPeriods = 5)
        .orderBy("day")
    }),

    // Seasonal-adjusted anomalies: |remainder − median| > 3·MAD on
    // q230's decomposition — "anomalous FOR a Tuesday in this trend".
    "q252_seasonal_anomaly" -> ((s, dir) => {
      graft.ops.TimeSeries.seasonalAnomalies(Tables.events(s, dir),
          "event_type", "ts", k = 3.0)
        .orderBy("event_type", "day")
    }),

    // Lead/lag cross-correlation between click and purchase daily
    // volumes: the argmax lag is the lead time ("purchases follow
    // clicks by N days").
    "q249_xcorr" -> ((s, dir) => {
      graft.ops.TimeSeries.crossCorrelation(Tables.events(s, dir),
          "event_type", "ts", "click", "purchase", maxLag = 7)
        .orderBy("lag")
    }),

    // Pareto cut of corpus mass by source: the minimal source prefix
    // covering 80% of characters — the prioritization table next to
    // q241's one-number HHI.
    "q250_pareto" -> ((s, dir) => {
      DataQuality.paretoCut(Tables.documents(s, dir), "source", "n_chars",
          target = 0.8)
        .orderBy("rank")
    }),

    // Exact 5% trimmed mean per return flag: the robust center that
    // REMOVES tail influence (winsorize clamps it); raw − trimmed is
    // the outlier-mass readout.
    "q248_trimmed_mean" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("tie", col("l_orderkey") * 10 + col("l_linenumber"))
      EventAnalytics.trimmedMean(li, "l_returnflag", "l_extendedprice",
          "tie", trim = 0.05)
        .orderBy("l_returnflag")
    }),

    // Poisson-bootstrap 95% CI on mean order value per status — the
    // distributed bootstrap (per-row Poisson(1) weights from the
    // portable hash; no with-replacement coordination).
    "q245_bootstrap" -> ((s, dir) => {
      Experiment.poissonBootstrapCi(Tables.orders(s, dir),
          "o_orderstatus", "o_orderkey", "o_totalprice", b = 32)
        .orderBy("o_orderstatus")
    }),

    // Per-type burstiness profile of daily volumes: Fano factor 1 =
    // Poisson, >>1 = bot/batch bursts, <<1 = cron-regular.
    "q232_dispersion" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      DataQuality.dispersion(daily, "event_type", "n")
        .orderBy("event_type")
    }),

    // Week-over-week change per event type: same-weekday comparison
    // nulls out the weekly rhythm a day-over-day delta just measures.
    "q233_period_change" -> ((s, dir) => {
      graft.ops.TimeSeries.periodChange(Tables.events(s, dir),
          "event_type", "ts", lagPeriods = 7)
        .orderBy("event_type", "day")
    }),

    // Per-status power analysis off the observed urgent-order rate: how
    // much traffic the NEXT experiment needs to detect a 5% lift.
    "q234_power" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("urgent",
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      Experiment.powerAnalysis(o, "o_orderstatus", "urgent", mde = 0.05)
        .orderBy("o_orderstatus")
    }),

    // Additive weekly decomposition of daily event volumes: trend
    // (7-day centered MA), day-of-week seasonal, remainder — separates
    // "Tuesdays are always like this" from "today is anomalous".
    "q230_seasonal" -> ((s, dir) => {
      graft.ops.TimeSeries.seasonalDecompose(Tables.events(s, dir),
          "event_type", "ts")
        .orderBy("event_type", "day")
    }),

    // Weight-of-Evidence / Information-Value of order totalprice
    // against the urgent-priority label — the feature-screening table
    // (IV < 0.02 = no signal) with micro-nat-fixed WoE.
    "q226_woe_iv" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("urgent",
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      DataQuality.woeIv(o, "urgent", "o_totalprice", nBins = 10)
        .orderBy("bin")
    }),

    // EWMA control chart over daily event volumes per type: flags the
    // single out-of-band day (q199's CUSUM finds the persistent shift).
    // Weights are shared Scala double literals; σ from exact trailing
    // integer sums.
    "q223_ewma" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.ewmaAnomalies(daily, "event_type", "day", "n")
        .orderBy("event_type", "day")
    }),

    // Time-weighted average event value per type: each observation
    // holds until the next, so bursts don't over-weight the mean.
    "q212_twap" -> ((s, dir) => {
      graft.ops.TimeSeries.timeWeightedAvg(Tables.events(s, dir),
          "event_type", "ts", "value")
        .orderBy("event_type")
    }),

    // Daily OHLC bars per event type: open/close via lexicographic
    // (ts, value) struct extrema — deterministic under timestamp ties,
    // one map-side-combining aggregation.
    "q213_ohlc" -> ((s, dir) => {
      graft.ops.TimeSeries.ohlcBars(Tables.events(s, dir),
          "event_type", "ts", "value", "1 day")
        .orderBy("event_type", "bar_start")
    }),

    // One-pass column profile of orders: row/null/distinct counts and
    // numeric/string extremes for six columns from a single aggregation.
    "q209_profile" -> ((s, dir) => {
      DataQuality.profile(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority", "o_orderdate"))
        .orderBy("column")
    }),

    // Market-basket pair rules over order baskets of part brands:
    // which brands co-occur beyond what their popularity explains.
    // The pair join is basket-keyed (bounded by order width), item
    // supports ride back as small-table joins.
    "q206_assoc_rules" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val baskets = li.join(p, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      Association.pairRules(baskets, "basket", "item", minPairs = 50L)
        .orderBy("antecedent", "consequent")
    }),

    // Gini concentration of per-user value within each event type: is
    // the metric spread across users or held by a few whales. Exact
    // rank-identity arithmetic in micro-units.
    "q207_gini" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
          .as("user_value"))
      DataQuality.gini(perUser, "event_type", "user_value")
        .orderBy("event_type")
    }),

    // Per-month fingerprints of orders — the partition-level integrity
    // table a replica sync compares instead of rows (O(partitions)
    // crosses the wire, not O(corpus)).
    "q194_fingerprint_by" -> ((s, dir) => {
      DataQuality.fingerprintBy(
          Tables.orders(s, dir)
            .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM")),
          Seq("month"), Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .select(col("month"), col("n"), col("hsum").cast("string").as("hsum"),
          col("hxor"))
        .orderBy("month")
    }),

    // Replica divergence from per-partition fingerprints alone: b drops
    // one whole month (-> removed), rewrites priority on o_orderkey%13
    // rows (-> their months changed), and lands copies of %101 rows in a
    // synthetic month (-> added). The oracle derives the SAME status
    // list from the construction directly — no hashing — so the
    // fingerprint comparison is validated against independent logic.
    "q195_fingerprint_diff" -> ((s, dir) => {
      val a = Tables.orders(s, dir)
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      val b = a.filter(col("month") =!= "1995-03")
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 13 === 0, lit("X-MODIFIED"))
            .otherwise(col("o_orderpriority")))
        .unionByName(a.filter(col("o_orderkey") % 101 === 0)
          .withColumn("month", lit("2099-01")))
      DataQuality.fingerprintDiff(a, b, Seq("month"),
          Seq("o_orderkey", "o_orderpriority", "o_orderstatus"))
        .orderBy("month")
    }),

    // Order-free dataset fingerprint of orders over three key columns —
    // the O(1)-output integrity check an append chain / replica /
    // replayed ingest is compared with: count + sum + xor of portable
    // 60-bit row hashes, invariant to row order and file layout.
    "q192_fingerprint" -> ((s, dir) => {
      DataQuality.fingerprint(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .select(col("n"), col("hsum").cast("string").as("hsum"), col("hxor"))
    }),

    // Exact Kendall tau-b of quantity vs discount — concordance on the
    // contingency table (50×11 cells, so the pair join is domain²-
    // bounded, never rows²), with the tau-b tie correction both discrete
    // domains need. C/D/tie sums are exact integers; tau is one
    // fixed-shape 6dp double.
    "q190_kendall_tau" -> ((s, dir) => {
      DataQuality.kendallTau(Tables.lineitem(s, dir), "l_quantity", "l_discount")
        .select(col("n"), col("conc").cast("long").as("conc"),
          col("disc").cast("long").as("disc"), col("tau_b"))
    }),

    // Exact Spearman rank correlation of quantity vs extended price —
    // the monotone-association audit (unit price makes them strongly
    // but not perfectly monotone). Doubled midranks + HUGEINT-exact
    // sums + one fixed-shape double expression (the q182 contract).
    "q188_spearman" -> ((s, dir) => {
      DataQuality.spearman(Tables.lineitem(s, dir),
        "l_quantity", "l_extendedprice")
    }),

    // Mann-Whitney rank-sum over the same split: the location-shift
    // companion to q176's shape statistic (did prices move up?).
    "q182_mann_whitney" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cut = lit("1998-01-01").cast("date")
      DataQuality.mannWhitneyU(
        o.filter(col("o_orderdate").cast("date") < cut),
        o.filter(col("o_orderdate").cast("date") >= cut),
        "o_totalprice")
    }),

    // PSI drift between the pre-/post-1998 order snapshots over
    // o_totalprice (10 equal-width bins on the global range): the
    // retrain gate a drifting corpus trips. Micro-unit terms replay in
    // DuckDB exactly (DataQuality.psiDrift's determinism contract).
    "q169_psi_drift" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cut = lit("1998-01-01").cast("date")
      DataQuality.psiDrift(
        o.filter(col("o_orderdate").cast("date") < cut),
        o.filter(col("o_orderdate").cast("date") >= cut),
        "o_totalprice", nBins = 10)
        .orderBy("bin")
    }),

    "q53_date_parts" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("dow", (dayofweek(col("ts")) - 1).cast("long"))
        .withColumn("hour", hour(col("ts")).cast("long"))
        .groupBy(col("dow"), col("hour"))
        // order-independent mean via exact integer micro-units (q136's
        // sf0.1 lesson applied preemptively to the same-shaped aggregate)
        .agg(count(lit(1)).as("n_events"),
          round(sum(round(col("value") * 1000000).cast("long")) /
            (count(lit(1)) * 1000000.0), 6).as("avg_value"))
        .orderBy("dow", "hour")
    }),

    // Ingest quarantine triage: rows classified by the FIRST failing
    // parse rule (price unparsable, then date unparsable), counts per
    // reason — the malformation-rate gate an ingest batch passes before
    // commit. try_cast predicates, scan-side CASE chain, one aggregate.
    "q293_ingest_quarantine" -> ((s, dir) => {
      val raw = Tables.orders(s, dir).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit("N/A"))
          .otherwise(col("o_totalprice").cast("string")).as("price_raw"),
        when(col("o_orderkey") % 13 === 0, lit("not-a-date"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
          .as("date_raw"))
      DataQuality.quarantineReport(raw, Seq(
          "bad_price" -> expr("try_cast(price_raw AS double)").isNull,
          "bad_date" -> expr("try_cast(date_raw AS timestamp)").isNull))
        .orderBy("reason")
    }),

    // Schema-drift report between orders and a mutated "today's ingest"
    // (priority column dropped, price silently restringed, a null
    // regression on custkey, a new channel column): the structural diff
    // + null-rate delta an admission gate checks before a backfill.
    "q291_schema_drift" -> ((s, dir) => {
      val a = Tables.orders(s, dir)
      val b = a.drop("o_orderpriority")
        .withColumn("o_totalprice", col("o_totalprice").cast("string"))
        .withColumn("o_custkey",
          when(col("o_orderkey") % 10 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")))
        .withColumn("o_channel", lit("web"))
      DataQuality.schemaDrift(a, b).orderBy("column")
    }),

    // One-step backtest of the naive and seasonal-naive baselines on
    // each event type's daily-mean series — the sanity row a Holt/ARIMA
    // readout must beat (if a model loses to snaive, ship snaive).
    "q312_forecast_backtest" -> ((s, dir) => {
      graft.ops.TimeSeries.forecastBacktest(Tables.events(s, dir),
          "event_type", "ts", "value", season = 7)
    }),

    // Positive-part James-Stein shrinkage of per-nation mean balances
    // toward the grand mean — the winner's-curse correction before
    // anyone celebrates the "best" segment (extreme observed means are
    // partly selection noise; JS dominates raw means for k >= 4).
    "q311_james_stein" -> ((s, dir) => {
      Experiment.jamesSteinMeans(Tables.customer(s, dir), "c_nationkey",
          "c_acctbal")
        .orderBy("c_nationkey")
    }),

    // One-way ANOVA across event types: does mean value differ across
    // ANY segment, asked once — the k-sample gate before q260's pairwise
    // Welch scans (and q276's FDR bill). One exchange to k rows.
    "q281_anova_f" -> ((s, dir) => {
      DataQuality.anovaF(Tables.events(s, dir), "event_type", "value")
    }),

    // Delete-one-bucket jackknife SE of each event type's mean value,
    // bucketed by user (the randomization unit) — the error bar a
    // ratio-metric experiment readout needs when rows within a user
    // correlate (per-row variance would understate it).
    "q282_jackknife_ratio" -> ((s, dir) => {
      DataQuality.jackknifeRatio(Tables.events(s, dir), "event_type",
          "user_id", col("value"), lit(1.0), nBuckets = 50)
        .orderBy("event_type")
    }),

    // Recency-decayed per-user activity score (30-day half-life,
    // anchored at the table's newest day): the feature-store
    // materialization where recent behavior counts more. Weights are
    // micro-quantized per distinct age, so sums are exact integers.
    "q283_decay_score" -> ((s, dir) => {
      graft.ops.TimeSeries.decayWeightedAgg(Tables.events(s, dir),
          "user_id", "ts", "value", halfLifeDays = 30)
        .orderBy("user_id")
    }))

  val oracles: Map[String, String] = Map(
    // quarantineReport replay: the same corruption, the same first-match
    // CASE chain over TRY_CAST predicates.
    "q293_ingest_quarantine" ->
      """WITH raw AS (SELECT o_orderkey,
              CASE WHEN o_orderkey % 11 = 0 THEN 'N/A'
                   ELSE CAST(o_totalprice AS VARCHAR) END AS price_raw,
              CASE WHEN o_orderkey % 13 = 0 THEN 'not-a-date'
                   ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS date_raw
            FROM orders)
          SELECT CASE WHEN try_cast(price_raw AS DOUBLE) IS NULL THEN 'bad_price'
                      WHEN try_cast(date_raw AS TIMESTAMP) IS NULL THEN 'bad_date'
                      ELSE 'ok' END AS reason, count(*) AS n
          FROM raw GROUP BY 1 ORDER BY reason""",
    // schemaDrift replay: both sides' per-column (type, null rate)
    // profiles as explicit UNION ALL rows (the column lists are schema
    // metadata — fixed), full-outer-joined on the column name.
    "q291_schema_drift" ->
      """WITH agg AS (SELECT count(*) AS n,
              sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS k1,
              sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS k2,
              sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS k3,
              sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS k4,
              sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS k5,
              sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS k6,
              sum(CASE WHEN o_orderkey % 10 = 0 OR o_custkey IS NULL THEN 1 ELSE 0 END) AS kb2
            FROM orders),
          pa AS (
            SELECT 'o_orderkey' AS col, 'bigint' AS dt, round(CAST(k1 AS DOUBLE) / n, 6) AS nr FROM agg
            UNION ALL SELECT 'o_custkey', 'bigint', round(CAST(k2 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_orderstatus', 'string', round(CAST(k3 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_totalprice', 'double', round(CAST(k4 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_orderdate', 'timestamp_ntz', round(CAST(k5 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_orderpriority', 'string', round(CAST(k6 AS DOUBLE) / n, 6) FROM agg),
          pb AS (
            SELECT 'o_orderkey' AS col, 'bigint' AS dt, round(CAST(k1 AS DOUBLE) / n, 6) AS nr FROM agg
            UNION ALL SELECT 'o_custkey', 'bigint', round(CAST(kb2 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_orderstatus', 'string', round(CAST(k3 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_totalprice', 'string', round(CAST(k4 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_orderdate', 'timestamp_ntz', round(CAST(k5 AS DOUBLE) / n, 6) FROM agg
            UNION ALL SELECT 'o_channel', 'string', 0.0 FROM agg)
          SELECT coalesce(pa.col, pb.col) AS "column",
            pa.col IS NOT NULL AS in_a, pb.col IS NOT NULL AS in_b,
            pa.dt AS dtype_a, pb.dt AS dtype_b,
            coalesce(pa.dt IS NOT NULL AND pb.dt IS NOT NULL AND pa.dt <> pb.dt, false) AS type_changed,
            pa.nr AS null_rate_a, pb.nr AS null_rate_b,
            CASE WHEN pa.nr IS NOT NULL AND pb.nr IS NOT NULL
                 THEN round(pb.nr - pa.nr, 6) END AS null_rate_delta
          FROM pa FULL OUTER JOIN pb ON pa.col = pb.col
          ORDER BY "column"""",
    // forecastBacktest replay: micro-mean daily series, lag-1 and lag-7
    // forecasts in one window order, micro absolute errors.
    "q312_forecast_backtest" ->
      """WITH d AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
              round(sum(CAST(round(value * 1000000, 0) AS BIGINT))
                / (count(*) * 1000000.0), 6) AS y
            FROM events GROUP BY g, day),
          l AS (SELECT g, day, y,
                  lag(y, 1) OVER (PARTITION BY g ORDER BY day) AS f1,
                  lag(y, 7) OVER (PARTITION BY g ORDER BY day) AS fs
                FROM d),
          m1 AS (SELECT g, 'naive' AS method, count(*) AS n,
                   round(CAST(sum(CAST(round(abs(y - f1) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                     / count(*) / 1000000.0, 6) AS mae
                 FROM l WHERE f1 IS NOT NULL GROUP BY g),
          ms AS (SELECT g, 'seasonal_naive' AS method, count(*) AS n,
                   round(CAST(sum(CAST(round(abs(y - fs) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                     / count(*) / 1000000.0, 6) AS mae
                 FROM l WHERE fs IS NOT NULL GROUP BY g)
          SELECT g AS event_type, method, n, mae
          FROM (SELECT * FROM m1 UNION ALL SELECT * FROM ms)
          ORDER BY event_type, method""",
    // jamesSteinMeans replay: 6-dp group means, every cross-group sum
    // micro-quantized per term, the same positive-part b and blend.
    "q311_james_stein" ->
      """WITH g AS (SELECT c_nationkey AS g, count(*) AS n,
              CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS s,
              CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(38,12))) AS DOUBLE) AS ss
            FROM customer WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
            GROUP BY c_nationkey HAVING count(*) > 1),
          m AS (SELECT g, n, s, ss, round(s / n, 6) AS mean FROM g),
          a AS (SELECT count(*) AS k,
                  sum(CAST(round(mean * 1000000, 0) AS HUGEINT)) AS sm,
                  sum(CAST(round((ss - s * s / n) * 1000000, 0) AS HUGEINT)) AS pvn,
                  sum(n - 1) AS pvd,
                  sum(CAST(round(1000000000.0 / n, 0) AS HUGEINT)) AS invn
                FROM m),
          gm AS (SELECT k, round(CAST(sm AS DOUBLE) / k / 1000000.0, 6) AS gm,
                   CAST(pvn AS DOUBLE) / 1000000.0 / pvd AS pv,
                   CAST(invn AS DOUBLE) / k / 1000000000.0 AS invm
                 FROM a),
          sb AS (SELECT sum(CAST(round((m.mean - gm.gm) * (m.mean - gm.gm)
                   * 1000000, 0) AS HUGEINT)) AS sb
                 FROM m, gm),
          bb AS (SELECT gm.gm,
                   CASE WHEN gm.k <= 3 THEN 1.0
                        WHEN CAST(sb.sb AS DOUBLE) / 1000000.0 <= 0 THEN 0.0
                        ELSE greatest(0.0, round(1.0 - (gm.k - 3) * gm.pv * gm.invm
                          / (CAST(sb.sb AS DOUBLE) / 1000000.0), 6)) END AS b
                 FROM gm, sb)
          SELECT m.g AS c_nationkey, CAST(m.n AS BIGINT) AS n, m.mean,
            round(bb.gm + bb.b * (m.mean - bb.gm), 6) AS shrunk, bb.b
          FROM m, bb ORDER BY c_nationkey""",
    // Replays anovaF's exact protocol: per-group decimal moments, the
    // between/within terms micro-quantized per group before the k-term
    // integer sums, then the fixed-shape F / eta² divisions.
    "q281_anova_f" ->
      """WITH g AS (SELECT event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s,
              CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS ss
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
            GROUP BY event_type),
          a AS (SELECT count(*) AS k, sum(n) AS nt,
              CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS st,
              sum(CAST(round(s * s / n * 1000000, 0) AS HUGEINT)) AS bm,
              sum(CAST(round(ss * 1000000, 0) AS HUGEINT)) AS ssm FROM g),
          d AS (SELECT k, nt,
              CAST(bm - CAST(round(st * st / nt * 1000000, 0) AS HUGEINT) AS DOUBLE) / 1000000.0 AS ssb,
              CAST(ssm - bm AS DOUBLE) / 1000000.0 AS ssw,
              CAST(ssm - CAST(round(st * st / nt * 1000000, 0) AS HUGEINT) AS DOUBLE) / 1000000.0 AS sst
            FROM a WHERE k >= 2 AND nt > k)
          SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n,
            round((ssb / (k - 1)) / (ssw / (nt - k)), 6) AS f,
            round(ssb / sst, 6) AS eta_sq
          FROM d""",
    // Replays jackknifeRatio: 50 md5 user buckets, leave-one-out ratios
    // micro-quantized, squared deviations as (b·r − Σr)² in DECIMAL so
    // bucket order can't reach the SE.
    "q282_jackknife_ratio" ->
      """WITH c AS (SELECT event_type AS g,
              CAST('0x' || substr(md5('graft-jk|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 50 AS b,
              sum(CAST(value AS DECIMAL(28,6))) AS sn,
              sum(CAST(1.0 AS DECIMAL(28,6))) AS sd
            FROM events GROUP BY g, b),
          t AS (SELECT g, b, sn, sd,
              sum(sn) OVER (PARTITION BY g) AS tn,
              sum(sd) OVER (PARTITION BY g) AS td FROM c),
          l AS (SELECT g, tn, td,
              CAST(round(CAST(tn - sn AS DOUBLE) / CAST(td - sd AS DOUBLE) * 1000000, 0) AS BIGINT) AS ri
            FROM t WHERE td - sd > 0),
          w AS (SELECT g, tn, td, ri,
              count(*) OVER (PARTITION BY g) AS b2,
              sum(ri) OVER (PARTITION BY g) AS rbar FROM l),
          s AS (SELECT g, tn, td, b2,
              sum(CAST(b2 * ri - rbar AS DECIMAL(19,0)) * CAST(b2 * ri - rbar AS DECIMAL(19,0))) AS sumdev
            FROM w GROUP BY g, tn, td, b2)
          SELECT g AS event_type, CAST(b2 AS BIGINT) AS n_buckets,
            round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6) AS ratio,
            round(sqrt((CAST(sumdev AS DOUBLE) / CAST(b2 * b2 AS DOUBLE))
              * CAST(b2 - 1 AS DOUBLE) / CAST(b2 AS DOUBLE)) / 1000000.0, 6) AS se_jack
          FROM s ORDER BY event_type""",
    // Replays decayWeightedAgg: integer day ages against the global max
    // day, exp(-age·ln2/30) micro-quantized per distinct age, exact
    // decimal·integer weighted sums.
    "q283_decay_score" ->
      s"""WITH r AS (SELECT user_id AS g, CAST(ts AS DATE) AS d,
              CAST(value AS DECIMAL(18,6)) AS v
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
          a AS (SELECT max(d) AS mx FROM r),
          w AS (SELECT g, v, d,
              CAST(round(exp(CAST(date_diff('day', d, mx) AS DOUBLE)
                * (${-math.log(2.0) / 30})) * 1000000, 0) AS BIGINT) AS wt
            FROM r, a)
          SELECT g AS user_id, count(*) AS n,
            round(CAST(sum(v * wt) AS DOUBLE) / 1000000.0, 6) AS decayed_sum,
            round(CAST(sum(wt) AS DOUBLE) / 1000000.0, 6) AS decayed_count,
            max(d) AS last_day
          FROM w GROUP BY g ORDER BY user_id""",
    "q108_dq_report" ->
      """WITH nullc AS (SELECT 'null:o_orderpriority' AS check_name,
              CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
              count(*) AS n_total FROM orders),
          rangec AS (SELECT 'range:o_totalprice',
              CAST(sum(CASE WHEN o_totalprice IS NULL
                             OR o_totalprice NOT BETWEEN 1000.0 AND 300000.0
                            THEN 1 ELSE 0 END) AS BIGINT),
              count(*) FROM orders),
          uok AS (SELECT 'unique:o_orderkey',
              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT),
              CAST(sum(c) AS BIGINT)
              FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
          uck AS (SELECT 'unique:o_custkey',
              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT),
              CAST(sum(c) AS BIGINT)
              FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)),
          refc AS (SELECT 'ref:o_custkey->c_custkey',
              CAST(sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(*)
              FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) p
                ON o.o_custkey = p.c_custkey),
          u AS (SELECT * FROM nullc UNION ALL SELECT * FROM rangec
                UNION ALL SELECT * FROM uok UNION ALL SELECT * FROM uck
                UNION ALL SELECT * FROM refc)
          SELECT check_name, n_bad, n_total,
                 round(n_bad * 1.0 / n_total, 6) AS bad_rate
          FROM u ORDER BY check_name""",
    "q50_percentiles" ->
      """SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5),6) AS p50, round(quantile_cont(o_totalprice, 0.9),6) AS p90, round(quantile_cont(o_totalprice, 0.99),6) AS p99 FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q118_quantile_sketch" ->
      """WITH s AS (SELECT (CAST('0x' || substr(md5('graft-qsk|' || o_orderkey), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u,
                 CAST(o_totalprice AS DOUBLE) AS v FROM orders),
          mk AS (SELECT u, v FROM s ORDER BY u, v LIMIT 256),
          r AS (SELECT v, row_number() OVER (ORDER BY v, u) AS rn,
                  count(*) OVER () AS n FROM mk),
          qs AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
          est AS (SELECT q, round(min(v), 6) AS q_est
                  FROM qs JOIN r ON r.rn = greatest(1, CAST(ceil(q * r.n) AS BIGINT))
                  GROUP BY q),
          ex AS (SELECT quantile_cont(o_totalprice, 0.5) AS e50,
                   quantile_cont(o_totalprice, 0.9) AS e90,
                   quantile_cont(o_totalprice, 0.99) AS e99 FROM orders)
          SELECT q, q_est,
                 round(CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90 ELSE e99 END, 6) AS exact
          FROM est CROSS JOIN ex ORDER BY q""",
    "q51_moment_aggs" ->
      """SELECT event_type, round(corr(value, user_id),6) AS corr_vu, round(stddev_samp(value),6) AS sd_value, round(var_samp(value),6) AS var_value, round(avg(value),6) AS avg_value FROM events GROUP BY event_type ORDER BY event_type""",
    "q139_jw_match" ->
      """WITH d AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
          SELECT a.p_name AS name_a, b.p_name AS name_b,
                 round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
          FROM d a JOIN d b
            ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
           AND a.p_name < b.p_name
          WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.8
          ORDER BY name_a, name_b""",
    "q52_string_funcs" ->
      """SELECT n_nationkey, upper(n_name) AS upper_name, substr(n_name, 1, 3) AS prefix3, CAST(length(n_name) AS BIGINT) AS name_len, CAST(levenshtein(lower(n_name), 'united states') AS BIGINT) AS lev_us FROM nation ORDER BY n_nationkey""",
    "q134_skew_report" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY l_suppkey)
          SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys, max(c) AS max_key_rows,
                 round(quantile_cont(c, 0.5), 6) AS p50_key_rows,
                 round(quantile_cont(c, 0.99), 6) AS p99_key_rows,
                 max(c) * count(*) * 1000000 // CAST(sum(c) AS BIGINT) AS skew_ppm
          FROM c""",
    // Same micro-unit z-scores, running sums and running mins — the
    // max(0, ...) recursion replayed as P_t - min(0, min prefix).
    // Percentile-scoring replay: one tagged union + running ref count,
    // ref rows first at equal values so ties count as <=.
    "q264_ref_percentile" ->
      """WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 3 <> 0),
          n AS (SELECT count(*) AS rn FROM ref),
          u AS (SELECT v, 1 AS r, NULL::BIGINT AS k FROM ref
                UNION ALL
                SELECT o_totalprice, 0, o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
          c AS (SELECT k, v, r,
                       sum(r) OVER (ORDER BY v ASC, r DESC, k ROWS UNBOUNDED PRECEDING) AS cum
                FROM u)
          SELECT k AS o_orderkey, v AS o_totalprice,
                 round(cum * 1.0 / (SELECT rn FROM n), 6) AS ref_pct
          FROM c WHERE r = 0 ORDER BY o_orderkey""",
    // Welch replay: conditional decimal moments, same IEEE chain.
    "q260_welch_ttest" ->
      """WITH m AS (SELECT event_type,
                 sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
                 CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS sa,
                 CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(38,12)) END) AS DOUBLE) AS ssa,
                 sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS nb,
                 CAST(sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS sb,
                 CAST(sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value * value AS DECIMAL(38,12)) END) AS DOUBLE) AS ssb
               FROM events GROUP BY event_type),
          v AS (SELECT event_type, na, nb, sa, sb,
                 (ssa - sa * sa / na) / (na - 1) / na AS va,
                 (ssb - sb * sb / nb) / (nb - 1) / nb AS vb
                FROM m WHERE na > 1 AND nb > 1)
          SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                 CAST(round((sa / na - sb / nb) / sqrt(va + vb) * 1000000, 0) AS BIGINT) AS t_micro,
                 round((va + vb) * (va + vb) / (va * va / (na - 1) + vb * vb / (nb - 1)), 6) AS df_w
          FROM v WHERE va + vb > 0 ORDER BY event_type""",
    // q260's Welch CTE -> micro-rounded z -> A&S 26.2.17 CDF (the exact
    // expression shape the engine evaluates, including the 1-(1-x)
    // non-simplification) -> BH step-up at alpha=0.05.
    "q276_bh_fdr" ->
      """WITH m AS (SELECT event_type,
                 sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
                 CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS sa,
                 CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(38,12)) END) AS DOUBLE) AS ssa,
                 sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS nb,
                 CAST(sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS sb,
                 CAST(sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value * value AS DECIMAL(38,12)) END) AS DOUBLE) AS ssb
               FROM events GROUP BY event_type),
          v AS (SELECT event_type, na, nb, sa, sb,
                 (ssa - sa * sa / na) / (na - 1) / na AS va,
                 (ssb - sb * sb / nb) / (nb - 1) / nb AS vb
                FROM m WHERE na > 1 AND nb > 1),
          z AS (SELECT event_type,
                 CAST(round((sa / na - sb / nb) / sqrt(va + vb) * 1000000, 0) AS BIGINT) AS t_micro
                FROM v WHERE va + vb > 0),
          c AS (SELECT event_type, t_micro, abs(t_micro / 1000000.0) AS x FROM z),
          k AS (SELECT event_type, t_micro, x, 1.0 / (1.0 + 0.2316419 * x) AS kk FROM c),
          p AS (SELECT event_type, t_micro,
                 round(2.0 * (1.0 - (1.0 - exp(-x * x / 2.0) / 2.5066282746310002
                   * (((((1.330274429 * kk - 1.821255978) * kk + 1.781477937) * kk
                       - 0.356563782) * kk + 0.319381530) * kk))), 9) AS p_value
                FROM k),
          r AS (SELECT event_type, t_micro, p_value,
                 CAST(row_number() OVER (ORDER BY p_value, event_type) AS BIGINT) AS rank,
                 count(*) OVER () AS mm
                FROM p),
          th AS (SELECT event_type, t_micro, p_value, rank,
                  round(rank * 0.05 / mm, 9) AS bh_thresh FROM r),
          km AS (SELECT *, max(CASE WHEN p_value <= bh_thresh THEN rank END) OVER () AS kmax FROM th)
          SELECT event_type, t_micro, p_value, rank, bh_thresh,
                 coalesce(rank <= kmax, false) AS discovery
          FROM km ORDER BY event_type""",
    // Lockstep recursive replay of the ordered Holt fold: state at day
    // index i joins state at i-1 per group; identical double expression
    // shapes (alpha=0.5, beta=0.25 exactly representable).
    "q275_holt_forecast" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
                 SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS day,
                        CAST(count(*) AS DOUBLE) AS x
                 FROM events GROUP BY 1, 2),
          idx AS MATERIALIZED (
                 SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY day) AS i FROM daily),
          st AS (SELECT g, i, x AS l, CAST(0.0 AS DOUBLE) AS b FROM idx WHERE i = 1
                 UNION ALL
                 SELECT d.g, d.i,
                        0.5 * d.x + 0.5 * (st.l + st.b),
                        0.25 * ((0.5 * d.x + 0.5 * (st.l + st.b)) - st.l) + 0.75 * st.b
                 FROM st JOIN idx d ON d.g = st.g AND d.i = st.i + 1),
          lastd AS (SELECT g, max(i) AS mi FROM idx GROUP BY g)
          SELECT st.g AS event_type, CAST(st.i AS BIGINT) AS n_points,
                 round(st.l, 6) AS level, round(st.b, 6) AS trend,
                 round(st.l + 7.0 * st.b, 6) AS forecast7
          FROM st JOIN lastd ON lastd.g = st.g AND st.i = lastd.mi
          ORDER BY event_type""",
    // Hampel replay: list() over the same 7-row frame, list_sort medians.
    "q257_rolling_median" ->
      """WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS y
                 FROM events GROUP BY 1, 2),
          fr AS (SELECT event_type, day, y,
                        list(y) OVER (PARTITION BY event_type ORDER BY day
                                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
                 FROM daily),
          m AS (SELECT event_type, day, y, list_sort(win)[4] AS med, win
                FROM fr WHERE len(win) = 7)
          SELECT event_type, day, y, med,
                 list_sort(list_transform(win, v -> abs(v - med)))[4] AS mad,
                 (list_sort(list_transform(win, v -> abs(v - med)))[4] > 0 AND
                  abs(y - med) > 3.0 * 1.4826 * list_sort(list_transform(win, v -> abs(v - med)))[4]) AS is_outlier
          FROM m ORDER BY event_type, day""",
    "q199_cusum" ->
      """WITH daily AS (SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS v
                 FROM events GROUP BY 1, 2),
          pts AS (SELECT g, CAST(date_diff('day', DATE '1970-01-01', day) AS DOUBLE) AS x,
                         v FROM daily),
          st AS (SELECT g, x, v, count(*) OVER (PARTITION BY g) AS n,
                        CAST(sum(CAST(v AS DECIMAL(28,6))) OVER (PARTITION BY g) AS DOUBLE) AS s,
                        CAST(sum(CAST(v*v AS DECIMAL(38,12))) OVER (PARTITION BY g) AS DOUBLE) AS ss
                 FROM pts),
          z AS (SELECT g, x,
                       CASE WHEN n > 1 AND greatest((ss - s*s/n)/(n-1), 0) > 0
                            THEN CAST(round((v - s/n) / sqrt(greatest((ss - s*s/n)/(n-1), 0))
                                            * 1000000, 0) AS BIGINT)
                            ELSE 0 END AS zmu FROM st),
          r AS (SELECT g, x,
                       sum(zmu - 500000) OVER (PARTITION BY g ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
                       sum(0 - zmu - 500000) OVER (PARTITION BY g ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd FROM z),
          r2 AS (SELECT g, x,
                        pu - least(min(pu) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS sp,
                        pd - least(min(pd) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS sn FROM r)
          SELECT g AS event_type,
                 round(max(sp) / 1000000.0, 6) AS max_s_pos,
                 round(max(sn) / 1000000.0, 6) AS max_s_neg,
                 min(CASE WHEN sp > 4000000 THEN x END) AS first_up_x,
                 min(CASE WHEN sn > 4000000 THEN x END) AS first_down_x
          FROM r2 GROUP BY g ORDER BY g""",
    // Same micro-unit cumulative-weight threshold; tie blocks resolve
    // to the same value under any ordering.
    "q214_weighted_median" ->
      """WITH pts AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                   CAST(round(l_quantity * 1000000, 0) AS BIGINT) AS wm
                 FROM lineitem
                 WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
                   AND l_quantity > 0),
          c AS (SELECT g, v,
                  sum(wm) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  sum(wm) OVER (PARTITION BY g) AS tot,
                  count(*) OVER (PARTITION BY g) AS n
                FROM pts)
          SELECT g AS l_returnflag, max(n) AS n,
                 round(CAST(max(tot) AS DOUBLE) / 1000000.0, 6) AS total_weight,
                 min(v) AS wmedian
          FROM c WHERE cum * 2 >= tot GROUP BY g ORDER BY g""",
    // Same trailing HUGEINT moment windows over the joined day table.
    "q251_rolling_corr" ->
      """WITH daily AS (SELECT event_type AS t,
                   CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
                 FROM events WHERE event_type IN ('click', 'purchase')
                 GROUP BY 1, 2),
          a AS (SELECT d, x AS xa FROM daily WHERE t = 'click'),
          b AS (SELECT d, x AS xb FROM daily WHERE t = 'purchase'),
          j AS (SELECT a.d, xa, xb FROM a JOIN b USING (d)),
          w AS (SELECT d, xa, xb,
                  count(*) OVER tw AS n,
                  sum(CAST(xa AS HUGEINT)) OVER tw AS sa,
                  sum(CAST(xb AS HUGEINT)) OVER tw AS sb,
                  sum(CAST(xa AS HUGEINT) * xa) OVER tw AS saa,
                  sum(CAST(xb AS HUGEINT) * xb) OVER tw AS sbb,
                  sum(CAST(xa AS HUGEINT) * xb) OVER tw AS sab
                FROM j
                WINDOW tw AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT d AS day, CAST(xa AS BIGINT) AS n_a, CAST(xb AS BIGINT) AS n_b,
                 CAST(n AS BIGINT) AS n_window,
                 CASE WHEN n >= 5 AND CAST(n * saa - sa * sa AS DOUBLE) > 0
                       AND CAST(n * sbb - sb * sb AS DOUBLE) > 0
                      THEN round(CAST(n * sab - sa * sb AS DOUBLE)
                                 / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                                        * CAST(n * sbb - sb * sb AS DOUBLE)), 6)
                 END AS corr
          FROM w ORDER BY day""",
    // q230's decomposition chain + two exact medians (quantile_cont ==
    // percentile replay); flag on fixed-shape doubles.
    "q252_seasonal_anomaly" ->
      """WITH daily AS (SELECT event_type AS g,
                   CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
                 FROM events GROUP BY 1, 2),
          tr AS (SELECT g, d, x,
                   CASE WHEN count(x) OVER wc = 7
                        THEN round(CAST(sum(x) OVER wc AS DOUBLE) / 7.0, 6)
                   END AS trend
                 FROM daily
                 WINDOW wc AS (PARTITION BY g ORDER BY d
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          det AS (SELECT g, d, x, trend,
                    CAST(x AS DOUBLE) - trend AS dt, dayofweek(d) AS dow
                  FROM tr),
          sm AS (SELECT g, dow,
                   sum(CAST(round(dt * 1000000.0, 0) AS HUGEINT)) AS s,
                   CAST(count(*) AS HUGEINT) AS k
                 FROM det WHERE dt IS NOT NULL GROUP BY g, dow),
          se AS (SELECT g, dow,
                   round(CAST((CASE WHEN s >= 0 THEN (abs(s) * 2 + k) // (k * 2)
                               ELSE -((abs(s) * 2 + k) // (k * 2)) END) AS DOUBLE)
                         / 1000000.0, 6) AS seasonal
                 FROM sm),
          rem AS (SELECT det.g, det.d, det.x,
                    round(CAST(det.x AS DOUBLE) - det.trend - se.seasonal, 6) AS remainder
                  FROM det LEFT JOIN se ON se.g = det.g AND se.dow = det.dow),
          md AS (SELECT g, round(quantile_cont(remainder, 0.5), 6) AS med
                 FROM rem WHERE remainder IS NOT NULL GROUP BY g),
          dv AS (SELECT rem.g, rem.d, rem.x, rem.remainder,
                   CASE WHEN rem.remainder IS NOT NULL
                        THEN round(abs(rem.remainder - md.med), 6) END AS dev
                 FROM rem LEFT JOIN md ON md.g = rem.g),
          mad AS (SELECT g, round(quantile_cont(dev, 0.5), 6) AS mad
                  FROM dv WHERE dev IS NOT NULL GROUP BY g)
          SELECT dv.g AS event_type, dv.d AS day, CAST(dv.x AS BIGINT) AS n,
                 dv.remainder, mad.mad AS mad,
                 coalesce(mad.mad > 0 AND dv.dev > 3.0 * mad.mad, false) AS anomaly
          FROM dv LEFT JOIN mad ON mad.g = dv.g
          ORDER BY event_type, day""",
    // Same day-keyed lag join over the present-day series; per-lag
    // Pearson from HUGEINT moments.
    "q249_xcorr" ->
      """WITH daily AS (SELECT event_type AS t,
                   CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
                 FROM events WHERE event_type IN ('click', 'purchase')
                 GROUP BY 1, 2),
          a AS (SELECT d, x AS xa FROM daily WHERE t = 'click'),
          b AS (SELECT d AS db, x AS xb FROM daily WHERE t = 'purchase'),
          l AS (SELECT a.d, a.xa, lag
                FROM a CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag)),
          j AS (SELECT lag, xa, xb
                FROM l JOIN b ON b.db = l.d + CAST(l.lag AS INTEGER)),
          m AS (SELECT lag, count(*) AS n_days,
                       sum(CAST(xa AS HUGEINT)) AS sa, sum(CAST(xb AS HUGEINT)) AS sb,
                       sum(CAST(xa AS HUGEINT) * xa) AS saa,
                       sum(CAST(xb AS HUGEINT) * xb) AS sbb,
                       sum(CAST(xa AS HUGEINT) * xb) AS sab
                FROM j GROUP BY lag)
          SELECT CAST(lag AS BIGINT) AS lag, n_days,
                 CASE WHEN CAST(n_days * saa - sa * sa AS DOUBLE) > 0
                       AND CAST(n_days * sbb - sb * sb AS DOUBLE) > 0
                      THEN round(CAST(n_days * sab - sa * sb AS DOUBLE)
                                 / sqrt(CAST(n_days * saa - sa * sa AS DOUBLE)
                                        * CAST(n_days * sbb - sb * sb AS DOUBLE)), 6)
                 END AS corr
          FROM m ORDER BY lag""",
    // Same exact decimal head test (cum - mass)*10000 < tot*8000 —
    // no double share decides membership.
    "q250_pareto" ->
      """WITH m AS (SELECT source,
                      sum(CAST(round(n_chars * 1000000.0, 0) AS HUGEINT)) AS mass
                 FROM documents WHERE n_chars IS NOT NULL GROUP BY source),
          r AS (SELECT source, mass,
                  CAST(row_number() OVER (ORDER BY mass DESC, source) AS BIGINT) AS rank,
                  sum(mass) OVER () AS tot,
                  sum(mass) OVER (ORDER BY mass DESC, source
                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM m)
          SELECT rank, source,
                 round(CAST(mass AS DOUBLE) / 1000000.0, 6) AS mass,
                 round(CAST(mass AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
                 round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share,
                 (cum - mass) * 10000 < tot * 8000 AS in_head
          FROM r ORDER BY rank""",
    // Same micro-value total order (value, orderkey*10+linenumber);
    // rank cuts replay with row_number, sums in HUGEINT.
    "q248_trimmed_mean" ->
      """WITH r AS (SELECT l_returnflag AS g,
                      CAST(round(l_extendedprice * 1000000.0, 0) AS BIGINT) AS vm,
                      l_orderkey * 10 + l_linenumber AS tie
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
          k AS (SELECT g, vm,
                  row_number() OVER (PARTITION BY g ORDER BY vm, tie) AS rn,
                  count(*) OVER (PARTITION BY g) AS n
                FROM r),
          a AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
                       sum(CAST(vm AS HUGEINT)) AS sall,
                       sum(CASE WHEN rn > (n * 500) // 10000
                                 AND rn <= n - (n * 500) // 10000
                                THEN CAST(vm AS HUGEINT) END) AS skept,
                       CAST(sum(CASE WHEN rn > (n * 500) // 10000
                                      AND rn <= n - (n * 500) // 10000
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
                FROM k GROUP BY g)
          SELECT g AS l_returnflag, n, n_kept,
                 round(CAST(sall AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) AS mean_raw,
                 CASE WHEN n_kept > 0
                      THEN round(CAST(skept AS DOUBLE) / 1000000.0 / CAST(n_kept AS DOUBLE), 6)
                 END AS mean_trimmed
          FROM a ORDER BY l_returnflag""",
    // Same Poisson(1) CDF threshold literals (Scala-computed, shared
    // verbatim); per-resample micro sums in HUGEINT; percentile ==
    // quantile_cont replay over the 32 per-resample means.
    "q245_bootstrap" -> {
      val cdf = (0 to 7).scanLeft(0.0) { case (acc, k) =>
        acc + math.exp(-1.0) / (1 to k).foldLeft(1.0)(_ * _)
      }.tail
      val wSql = cdf.map(t => s"(CASE WHEN u > ${t} THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val uSql = "(CAST('0x' || substr(md5('graft-boot|' || b || '|' || id), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0"
      s"""WITH r AS (SELECT o_orderstatus AS g, CAST(o_orderkey AS VARCHAR) AS id,
                       CAST(round(o_totalprice * 1000000.0, 0) AS HUGEINT) AS vm
                  FROM orders WHERE o_totalprice IS NOT NULL),
          e AS (SELECT g, id, vm, unnest(range(0, 32)) AS b FROM r),
          wt AS (SELECT g, b, vm, ($wSql) AS w
                 FROM (SELECT g, b, vm, $uSql AS u FROM e)),
          pb AS (SELECT g, b, sum(vm * w) AS s, CAST(sum(w) AS BIGINT) AS n
                 FROM wt GROUP BY g, b),
          m AS (SELECT g, CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mean
                FROM pb WHERE n > 0)
          SELECT g AS o_orderstatus, count(*) AS n_resamples,
                 round(quantile_cont(mean, 0.5), 6) AS mean_med,
                 round(quantile_cont(mean, 0.025), 6) AS lo95,
                 round(quantile_cont(mean, 0.975), 6) AS hi95
          FROM m GROUP BY g ORDER BY g"""
    },
    // Same exact HUGEINT moment sums; fano/cv replay the engine's
    // unrounded variance/mean double shapes.
    "q232_dispersion" ->
      """WITH daily AS (SELECT event_type AS g,
                   CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
                 FROM events GROUP BY 1, 2),
          a AS (SELECT g, count(*) AS n, sum(CAST(x AS HUGEINT)) AS s,
                       sum(CAST(x AS HUGEINT) * x) AS ss
                FROM daily GROUP BY g),
          f AS (SELECT g, n,
                  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  CAST(n * ss - s * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var
                FROM a)
          SELECT g AS event_type, n, round(mean, 6) AS mean,
                 CASE WHEN n > 1 THEN round(var, 6) END AS variance,
                 CASE WHEN n > 1 AND mean <> 0.0 THEN round(var / mean, 6) END AS fano,
                 CASE WHEN n > 1 AND mean > 0.0 THEN round(sqrt(var) / mean, 6) END AS cv
          FROM f ORDER BY event_type""",
    "q233_period_change" ->
      """WITH daily AS (SELECT event_type AS g,
                   CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
                 FROM events GROUP BY 1, 2),
          l AS (SELECT g, d, x,
                  lag(x, 7) OVER (PARTITION BY g ORDER BY d) AS prev
                FROM daily)
          SELECT g AS event_type, d AS day, CAST(x AS BIGINT) AS n,
                 CAST(prev AS BIGINT) AS n_prev,
                 CASE WHEN prev > 0
                      THEN round(CAST(x - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6)
                 END AS pct_change
          FROM l ORDER BY event_type, day""",
    // Fixed z literals shared with the engine (no inverse normal in
    // either); Fleiss sizing formula as one double chain.
    "q234_power" ->
      """WITH per AS (SELECT o_orderstatus AS g, count(*) AS n,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS k
                 FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1),
          p AS (SELECT g, n, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p1 FROM per),
          q AS (SELECT g, n, p1, p1 * 1.05 AS p2 FROM p),
          f AS (SELECT g, n, p1, p2,
                  1.959964 * sqrt(2.0 * ((p1 + p2) / 2) * (1.0 - (p1 + p2) / 2))
                    + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)) AS num,
                  p2 - p1 AS d
                FROM q)
          SELECT g AS o_orderstatus, n,
                 round(p1, 6) AS base_rate, round(p2, 6) AS target_rate,
                 CASE WHEN p1 > 0 AND p1 < 1 AND p2 > 0 AND p2 < 1
                      THEN CAST(ceil(num * num / (d * d)) AS BIGINT) END AS n_per_arm
          FROM f ORDER BY o_orderstatus""",
    // Same present-day series; dayofweek differs by +1 across engines
    // but only partitions the seasonal mean, so groups are identical.
    "q230_seasonal" ->
      """WITH daily AS (SELECT event_type AS g,
                   CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
                 FROM events GROUP BY 1, 2),
          tr AS (SELECT g, d, x,
                   CASE WHEN count(x) OVER wc = 7
                        THEN round(CAST(sum(x) OVER wc AS DOUBLE) / 7.0, 6)
                   END AS trend
                 FROM daily
                 WINDOW wc AS (PARTITION BY g ORDER BY d
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          det AS (SELECT g, d, x, trend,
                    CAST(x AS DOUBLE) - trend AS dt, dayofweek(d) AS dow
                  FROM tr),
          sm AS (SELECT g, dow,
                   sum(CAST(round(dt * 1000000.0, 0) AS HUGEINT)) AS s,
                   CAST(count(*) AS HUGEINT) AS k
                 FROM det WHERE dt IS NOT NULL GROUP BY g, dow),
          se AS (SELECT g, dow,
                   round(CAST((CASE WHEN s >= 0 THEN (abs(s) * 2 + k) // (k * 2)
                               ELSE -((abs(s) * 2 + k) // (k * 2)) END) AS DOUBLE)
                         / 1000000.0, 6) AS seasonal
                 FROM sm)
          SELECT det.g AS event_type, det.d AS day, CAST(det.x AS BIGINT) AS n,
                 det.trend, se.seasonal,
                 round(CAST(det.x AS DOUBLE) - det.trend - se.seasonal, 6) AS remainder
          FROM det LEFT JOIN se ON se.g = det.g AND se.dow = det.dow
          ORDER BY event_type, day""",
    // Same bin/count shapes as the engine; WoE micro-nat-fixed before
    // the IV product, one-sided bins null out and charge 0 to IV.
    "q226_woe_iv" ->
      """WITH r AS (SELECT o_totalprice AS v,
                      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END AS g
                 FROM orders
                 WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
          bd AS (SELECT min(v) AS mn, max(v) AS mx FROM r),
          c AS (SELECT CASE WHEN (mx - mn) / 10.0 > 0
                         THEN CAST(least(floor((v - mn) / ((mx - mn) / 10.0)), 9) AS BIGINT)
                         ELSE 0 END AS bin,
                       count(*) AS n, CAST(sum(g) AS BIGINT) AS n_pos
                FROM r CROSS JOIN bd GROUP BY 1),
          t AS (SELECT bin, n, n_pos, n - n_pos AS n_neg,
                       CAST(sum(n_pos) OVER () AS BIGINT) AS gt,
                       CAST(sum(n - n_pos) OVER () AS BIGINT) AS bt
                FROM c),
          w AS (SELECT bin, n, n_pos, n_neg, gt, bt,
                  CASE WHEN n_pos > 0 AND n_neg > 0 AND gt > 0 AND bt > 0
                       THEN CAST(round(ln(CAST(CAST(n_pos AS HUGEINT) * bt AS DOUBLE)
                                          / CAST(CAST(n_neg AS HUGEINT) * gt AS DOUBLE))
                                       * 1000000.0, 0) AS BIGINT)
                  END AS wm
                FROM t),
          f AS (SELECT bin, n, n_pos, n_neg, wm,
                  CASE WHEN wm IS NOT NULL
                       THEN CAST(round((CAST(n_pos AS DOUBLE) / CAST(gt AS DOUBLE)
                                        - CAST(n_neg AS DOUBLE) / CAST(bt AS DOUBLE))
                                       * (CAST(wm AS DOUBLE) / 1000000.0)
                                       * 1000000.0, 0) AS BIGINT)
                       ELSE 0 END AS ivt
                FROM w)
          SELECT bin, n, n_pos, n_neg,
                 round(CAST(wm AS DOUBLE) / 1000000.0, 6) AS woe,
                 round(CAST(sum(ivt) OVER () AS DOUBLE) / 1000000.0, 6) AS iv
          FROM f ORDER BY bin""",
    // Weight literals are the SAME Scala-computed doubles the engine
    // uses (Double.toString round-trips exactly); lag sums replay the
    // engine's fixed left-associated adds.
    "q223_ewma" -> {
      val wts = (0 to 14).map(j => math.pow(0.7, j))
      def term(j: Int, wt: Double) =
        s"coalesce(${wt} * CAST(lag(x, $j) OVER w AS DOUBLE), 0.0)"
      def dterm(j: Int, wt: Double) =
        s"CASE WHEN lag(x, $j) OVER w IS NOT NULL THEN ${wt} ELSE 0.0 END"
      val curNum = (0 until 14).map(j => term(j, wts(j))).mkString(" + ")
      val curDen = (0 until 14).map(j => dterm(j, wts(j))).mkString(" + ")
      val prevNum = (1 to 14).map(j => term(j, wts(j - 1))).mkString(" + ")
      val prevDen = (1 to 14).map(j => dterm(j, wts(j - 1))).mkString(" + ")
      s"""WITH daily AS (SELECT event_type AS g,
                   CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS x
                 FROM events GROUP BY 1, 2),
          c AS (SELECT g, day, x,
                  ($curNum) AS num, ($curDen) AS den,
                  ($prevNum) AS pnum, ($prevDen) AS pden,
                  count(x) OVER wt AS cnt,
                  sum(CAST(x AS HUGEINT)) OVER wt AS s1,
                  sum(CAST(x AS HUGEINT) * x) OVER wt AS s2
                FROM daily
                WINDOW w AS (PARTITION BY g ORDER BY day),
                       wt AS (PARTITION BY g ORDER BY day
                              ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)),
          f AS (SELECT g, day, x, num / den AS ewma,
                  CASE WHEN cnt >= 3
                       THEN sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE)
                                 / (CAST(cnt AS DOUBLE) * CAST(cnt - 1 AS DOUBLE)))
                  END AS sig,
                  pnum / pden AS pewma
                FROM c)
          SELECT g AS event_type, day, CAST(x AS BIGINT) AS n,
                 round(ewma, 6) AS ewma, round(sig, 6) AS sigma,
                 coalesce(sig > 0 AND abs(CAST(x AS DOUBLE) - pewma) > 3.0 * sig,
                          false) AS anomaly
          FROM f ORDER BY event_type, day"""
    },
    // rank()-1 = the engine's strictly-smaller count; same integer
    // div-5 quintile identity, decimal(18,2) monetary sums.
    "q222_rfm" ->
      """WITH h AS (SELECT max(CAST(date_trunc('day', o_orderdate) AS DATE)) AS hz FROM orders),
          cust AS (SELECT o_custkey AS c,
                     CAST(date_diff('day', max(CAST(date_trunc('day', o_orderdate) AS DATE)),
                                    (SELECT hz FROM h)) AS BIGINT) AS recency_days,
                     count(*) AS frequency,
                     sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
                   FROM orders GROUP BY o_custkey),
          n AS (SELECT count(*) AS n FROM cust),
          s AS (SELECT c, recency_days, frequency, mon,
                  (rank() OVER (ORDER BY recency_days) - 1) * 5 // (SELECT n FROM n) + 1 AS sr,
                  (rank() OVER (ORDER BY frequency) - 1) * 5 // (SELECT n FROM n) + 1 AS sf,
                  (rank() OVER (ORDER BY mon) - 1) * 5 // (SELECT n FROM n) + 1 AS sm
                FROM cust)
          SELECT c AS o_custkey, recency_days, CAST(frequency AS BIGINT) AS frequency,
                 round(CAST(mon AS DOUBLE), 2) AS monetary,
                 CAST(6 - sr AS BIGINT) AS r_score,
                 CAST(sf AS BIGINT) AS f_score, CAST(sm AS BIGINT) AS m_score,
                 CAST((6 - sr) * 100 + sf * 10 + sm AS BIGINT) AS rfm
          FROM s ORDER BY o_custkey""",
    // Same exact-decimal moment sums per pair, same fixed-shape final
    // double expression (lineitem columns are never null, so plain
    // count(*)/sums equal the engine's pairwise-deletion guards).
    "q211_corr_matrix" ->
      """WITH m AS (SELECT count(*) AS n,
                   sum(CAST(l_quantity AS DECIMAL(38,12))) AS s_q,
                   sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS s_e,
                   sum(CAST(l_discount AS DECIMAL(38,12))) AS s_d,
                   sum(CAST(l_tax AS DECIMAL(38,12))) AS s_t,
                   sum(CAST(l_quantity*l_quantity AS DECIMAL(38,12))) AS s_qq,
                   sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(38,12))) AS s_ee,
                   sum(CAST(l_discount*l_discount AS DECIMAL(38,12))) AS s_dd,
                   sum(CAST(l_tax*l_tax AS DECIMAL(38,12))) AS s_tt,
                   sum(CAST(l_quantity*l_extendedprice AS DECIMAL(38,12))) AS s_qe,
                   sum(CAST(l_quantity*l_discount AS DECIMAL(38,12))) AS s_qd,
                   sum(CAST(l_quantity*l_tax AS DECIMAL(38,12))) AS s_qt,
                   sum(CAST(l_extendedprice*l_discount AS DECIMAL(38,12))) AS s_ed,
                   sum(CAST(l_extendedprice*l_tax AS DECIMAL(38,12))) AS s_et,
                   sum(CAST(l_discount*l_tax AS DECIMAL(38,12))) AS s_dt
                 FROM lineitem),
          p AS (
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
                   CAST(s_qe AS DOUBLE) AS sxy, CAST(s_q AS DOUBLE) AS sx,
                   CAST(s_e AS DOUBLE) AS sy, CAST(s_qq AS DOUBLE) AS sxx,
                   CAST(s_ee AS DOUBLE) AS syy FROM m
            UNION ALL SELECT 'l_quantity', 'l_discount', n,
                   CAST(s_qd AS DOUBLE), CAST(s_q AS DOUBLE),
                   CAST(s_d AS DOUBLE), CAST(s_qq AS DOUBLE),
                   CAST(s_dd AS DOUBLE) FROM m
            UNION ALL SELECT 'l_quantity', 'l_tax', n,
                   CAST(s_qt AS DOUBLE), CAST(s_q AS DOUBLE),
                   CAST(s_t AS DOUBLE), CAST(s_qq AS DOUBLE),
                   CAST(s_tt AS DOUBLE) FROM m
            UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
                   CAST(s_ed AS DOUBLE), CAST(s_e AS DOUBLE),
                   CAST(s_d AS DOUBLE), CAST(s_ee AS DOUBLE),
                   CAST(s_dd AS DOUBLE) FROM m
            UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
                   CAST(s_et AS DOUBLE), CAST(s_e AS DOUBLE),
                   CAST(s_t AS DOUBLE), CAST(s_ee AS DOUBLE),
                   CAST(s_tt AS DOUBLE) FROM m
            UNION ALL SELECT 'l_discount', 'l_tax', n,
                   CAST(s_dt AS DOUBLE), CAST(s_d AS DOUBLE),
                   CAST(s_t AS DOUBLE), CAST(s_dd AS DOUBLE),
                   CAST(s_tt AS DOUBLE) FROM m)
          SELECT col_a, col_b, n,
                 CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                      THEN round((n*sxy - sx*sy)
                                 / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6)
                 END AS corr
          FROM p ORDER BY col_a, col_b""",
    // Same micro-unit value x microsecond duration products, HUGEINT
    // sums, one double division over the series span.
    "q212_twap" ->
      """WITH pts AS (SELECT event_type AS g, epoch_us(ts) AS t,
                   CAST(round(value * 1000000, 0) AS BIGINT) AS vm
                 FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
          d AS (SELECT g, t, vm,
                       lead(t) OVER (PARTITION BY g ORDER BY t, vm) - t AS dur
                FROM pts),
          a AS (SELECT g, count(*) AS n_points, min(t) AS t0, max(t) AS t1,
                       sum(CAST(vm AS HUGEINT) * dur) AS wsum
                FROM d GROUP BY g)
          SELECT g AS event_type, n_points,
                 CASE WHEN t1 > t0
                      THEN round(CAST(wsum AS DOUBLE)
                                 / (CAST(t1 - t0 AS DOUBLE) * 1000000.0), 6)
                 END AS twa
          FROM a ORDER BY g""",
    // Same daily buckets; open/close as the lexicographic (ts, value)
    // extrema via tie-broken row_number.
    "q213_ohlc" ->
      """WITH b AS (SELECT event_type AS g, date_trunc('day', ts) AS bar_start,
                   ts, value AS v
                 FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
          o AS (SELECT g, bar_start, v,
                  row_number() OVER (PARTITION BY g, bar_start ORDER BY ts, v) AS rn_a,
                  row_number() OVER (PARTITION BY g, bar_start ORDER BY ts DESC, v DESC) AS rn_d
                FROM b)
          SELECT g AS event_type, CAST(bar_start AS TIMESTAMP) AS bar_start,
                 count(*) AS n_ticks,
                 min(CASE WHEN rn_a = 1 THEN v END) AS open,
                 max(v) AS high, min(v) AS low,
                 min(CASE WHEN rn_d = 1 THEN v END) AS close
          FROM o GROUP BY g, bar_start ORDER BY g, bar_start""",
    // One SELECT per column over the same table, unioned — the same
    // statistics the single-pass engine aggregate emits.
    "q209_profile" ->
      """WITH p AS (
          SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                 CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                 count(DISTINCT o_orderkey) AS n_distinct,
                 CAST(min(o_orderkey) AS DOUBLE) AS min_num,
                 CAST(max(o_orderkey) AS DOUBLE) AS max_num,
                 CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len
          FROM orders
          UNION ALL
          SELECT 'o_custkey', count(*),
                 CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT o_custkey),
                 CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_orderstatus', count(*),
                 CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT o_orderstatus),
                 CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(min(length(o_orderstatus)) AS BIGINT),
                 CAST(max(length(o_orderstatus)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_totalprice', count(*),
                 CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT o_totalprice),
                 CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_orderpriority', count(*),
                 CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT o_orderpriority),
                 CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(min(length(o_orderpriority)) AS BIGINT),
                 CAST(max(length(o_orderpriority)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_orderdate', count(*),
                 CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT o_orderdate),
                 CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          FROM orders)
          SELECT * FROM p ORDER BY "column"""",
    // Same distinct (basket,item) collapse, basket-keyed pair join,
    // support joins, both rule directions.
    "q206_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
                     FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
          nb AS (SELECT count(DISTINCT b) AS nb FROM bi),
          ic AS (SELECT i, count(*) AS ni FROM bi GROUP BY i),
          pr AS (SELECT l.i AS a, r.i AS c, count(*) AS n
                 FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
                 GROUP BY 1, 2 HAVING count(*) >= 50),
          ru AS (SELECT a AS antecedent, c AS consequent, n FROM pr
                 UNION ALL SELECT c, a, n FROM pr)
          SELECT ru.antecedent, ru.consequent, ru.n AS n_pairs,
                 ia.ni AS n_a, ib.ni AS n_b,
                 round(CAST(ru.n AS DOUBLE) / CAST(nb.nb AS DOUBLE), 6) AS support,
                 round(CAST(ru.n AS DOUBLE) / CAST(ia.ni AS DOUBLE), 6) AS confidence,
                 round(CAST(ru.n AS DOUBLE) * CAST(nb.nb AS DOUBLE)
                       / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)), 6) AS lift
          FROM ru JOIN ic ia ON ia.i = ru.antecedent
                  JOIN ic ib ON ib.i = ru.consequent
                  CROSS JOIN nb
          ORDER BY antecedent, consequent""",
    // Same micro-unit rank identity; HUGEINT-exact sums, one division.
    "q207_gini" ->
      """WITH pu AS (SELECT event_type AS g, user_id,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
                 FROM events GROUP BY 1, 2),
          r AS (SELECT g, CAST(round(v * 1000000, 0) AS BIGINT) AS xm,
                       row_number() OVER (PARTITION BY g
                         ORDER BY CAST(round(v * 1000000, 0) AS BIGINT)) AS rk
                FROM pu),
          a AS (SELECT g, count(*) AS n, sum(CAST(xm AS HUGEINT)) AS s0,
                       sum(CAST(rk AS HUGEINT) * xm) AS s1
                FROM r GROUP BY g)
          SELECT g AS event_type, n,
                 round(CAST(s0 AS DOUBLE) / 1000000.0, 6) AS total,
                 CASE WHEN s0 > 0
                      THEN round(CAST(2*s1 - (n+1)*s0 AS DOUBLE)
                                 / CAST(n*s0 AS DOUBLE), 6) END AS gini
          FROM a ORDER BY g""",
    // Same TANE-g3 arithmetic per candidate: distinct (lhs,rhs) pair
    // counts, per-lhs modal count, rows minus modal summed.
    "q200_fd_violations" ->
      """WITH c1 AS (SELECT o_orderkey AS k, o_orderstatus AS r, count(*) AS c
                     FROM orders GROUP BY 1, 2),
          g1 AS (SELECT k, sum(c) AS n, max(c) AS m, count(*) AS kk
                 FROM c1 GROUP BY k),
          f1 AS (SELECT 'o_orderkey -> o_orderstatus' AS fd,
                        count(*) AS n_groups,
                        CAST(sum(CASE WHEN kk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                          AS violating_groups,
                        CAST(sum(n - m) AS BIGINT) AS g3_rows,
                        round(CAST(sum(n - m) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
                          AS g3_ratio,
                        sum(CASE WHEN kk > 1 THEN 1 ELSE 0 END) = 0 AS holds
                 FROM g1),
          c2 AS (SELECT o_custkey AS k, o_orderstatus AS r, count(*) AS c
                 FROM orders GROUP BY 1, 2),
          g2 AS (SELECT k, sum(c) AS n, max(c) AS m, count(*) AS kk
                 FROM c2 GROUP BY k),
          f2 AS (SELECT 'o_custkey -> o_orderstatus' AS fd,
                        count(*) AS n_groups,
                        CAST(sum(CASE WHEN kk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                          AS violating_groups,
                        CAST(sum(n - m) AS BIGINT) AS g3_rows,
                        round(CAST(sum(n - m) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
                          AS g3_ratio,
                        sum(CASE WHEN kk > 1 THEN 1 ELSE 0 END) = 0 AS holds
                 FROM g2),
          c3 AS (SELECT o_custkey AS k1, o_orderdate AS k2, o_orderstatus AS r,
                        count(*) AS c
                 FROM orders GROUP BY 1, 2, 3),
          g3 AS (SELECT k1, k2, sum(c) AS n, max(c) AS m, count(*) AS kk
                 FROM c3 GROUP BY k1, k2),
          f3 AS (SELECT 'o_custkey,o_orderdate -> o_orderstatus' AS fd,
                        count(*) AS n_groups,
                        CAST(sum(CASE WHEN kk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                          AS violating_groups,
                        CAST(sum(n - m) AS BIGINT) AS g3_rows,
                        round(CAST(sum(n - m) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
                          AS g3_ratio,
                        sum(CASE WHEN kk > 1 THEN 1 ELSE 0 END) = 0 AS holds
                 FROM g3)
          SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL
          SELECT * FROM f3 ORDER BY fd""",
    // Same micro-unit z construction as q199; lagged pairing by rank
    // equi-join; HUGEINT-exact integer sums divided once in double.
    "q201_acf" ->
      """WITH daily AS (SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS v
                 FROM events GROUP BY 1, 2),
          pts AS (SELECT g, CAST(date_diff('day', DATE '1970-01-01', day) AS DOUBLE) AS x,
                         v FROM daily),
          st AS (SELECT g, x, v, count(*) OVER (PARTITION BY g) AS n,
                        CAST(sum(CAST(v AS DECIMAL(28,6))) OVER (PARTITION BY g) AS DOUBLE) AS s,
                        CAST(sum(CAST(v*v AS DECIMAL(38,12))) OVER (PARTITION BY g) AS DOUBLE) AS ss
                 FROM pts),
          z AS (SELECT g,
                       CASE WHEN n > 1 AND greatest((ss - s*s/n)/(n-1), 0) > 0
                            THEN CAST(round((v - s/n) / sqrt(greatest((ss - s*s/n)/(n-1), 0))
                                            * 1000000, 0) AS BIGINT)
                       END AS zmu,
                       row_number() OVER (PARTITION BY g ORDER BY x) AS t FROM st),
          den AS (SELECT g, sum(CAST(zmu AS HUGEINT) * zmu) AS d FROM z GROUP BY g),
          lags AS (SELECT unnest(range(1, 8)) AS lag),
          p AS (SELECT a.g, lags.lag, a.zmu AS za, b.zmu AS zb
                FROM z a CROSS JOIN lags
                JOIN z b ON b.g = a.g AND b.t = a.t + lags.lag)
          SELECT p.g AS event_type, p.lag, count(*) AS n_pairs,
                 CASE WHEN den.d > 0
                      THEN round(CAST(sum(CAST(za AS HUGEINT) * zb) AS DOUBLE)
                                 / CAST(den.d AS DOUBLE), 6)
                 END AS acf
          FROM p JOIN den ON den.g = p.g
          GROUP BY p.g, p.lag, den.d ORDER BY event_type, lag""",
    // The view the incremental path must equal: one full GROUP BY over
    // all of orders — count plus the exact decimal sum emitted as an
    // integer BIGINT cent total (2-dp amounts x 100; no double anywhere).
    "q198_incremental_view" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) * 100 AS BIGINT) AS sum_cents
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    // Same daily-mean construction, pairwise slopes on the group-equi
    // join, explicit rank-selection median — no engine quantile
    // interpolation anywhere.
    "q196_theil_sen" ->
      """WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS y
                 FROM events GROUP BY 1, 2),
          pts AS (SELECT event_type AS g,
                         CAST(date_diff('day', DATE '1970-01-01', day) AS DOUBLE) AS x,
                         y FROM daily),
          sl AS (SELECT a.g, round((b.y - a.y) / (b.x - a.x), 6) AS s
                 FROM pts a JOIN pts b ON a.g = b.g AND a.x < b.x),
          rk AS (SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
                        count(*) OVER (PARTITION BY g) AS cnt FROM sl)
          SELECT g AS event_type, round(avg(s), 6) AS slope,
                 CAST(max(cnt) AS BIGINT) AS n_pairs
          FROM rk WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
          GROUP BY g ORDER BY event_type""",
    // Same per-row hash grouped by month.
    "q194_fingerprint_by" ->
      """WITH h AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   CAST('0x' || substr(md5(
                     coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || chr(2) ||
                     coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || chr(2) ||
                     coalesce(o_orderstatus, chr(1))), 1, 15) AS BIGINT) AS h
                 FROM orders)
          SELECT month, CAST(count(*) AS BIGINT) AS n,
                 CAST(CAST(sum(CAST(h AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS hsum,
                 CAST(bit_xor(h) AS BIGINT) AS hxor
          FROM h GROUP BY month ORDER BY month""",
    // Status list derived from the CONSTRUCTION (which months were
    // dropped/modified/invented), not from hashes — independent logic
    // validating the fingerprint comparison.
    "q195_fingerprint_diff" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   max(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS has13
                 FROM orders GROUP BY 1)
          SELECT month,
                 CASE WHEN month = '1995-03' THEN 'removed'
                      ELSE 'changed' END AS status
          FROM m WHERE month = '1995-03' OR has13 = 1
          UNION ALL
          SELECT '2099-01', 'added'
          WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey % 101 = 0)
          ORDER BY month""",
    // Same rendering (chr(1) = NULL, chr(2) separator), same 60-bit md5
    // prefix; sum in HUGEINT rendered as text, xor in BIGINT.
    "q192_fingerprint" ->
      """WITH h AS (SELECT CAST('0x' || substr(md5(
                     coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || chr(2) ||
                     coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || chr(2) ||
                     coalesce(o_orderstatus, chr(1))), 1, 15) AS BIGINT) AS h
                 FROM orders)
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(CAST(sum(CAST(h AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS hsum,
                 CAST(bit_xor(h) AS BIGINT) AS hxor
          FROM h""",
    // Same contingency-cell pair formula: C/D as HUGEINT products over
    // ordered cell pairs, Kendall-1945 tie terms from the marginals,
    // one fixed-shape double for tau.
    "q190_kendall_tau" ->
      """WITH cells AS (SELECT CAST(l_quantity AS DOUBLE) AS a,
                   CAST(l_discount AS DOUBLE) AS b,
                   CAST(count(*) AS BIGINT) AS o
                 FROM lineitem
                 WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                 GROUP BY 1, 2),
          cd AS (SELECT sum(CASE WHEN c1.b < c2.b THEN CAST(c1.o AS HUGEINT) * c2.o END) AS c,
                        sum(CASE WHEN c1.b > c2.b THEN CAST(c1.o AS HUGEINT) * c2.o END) AS d
                 FROM cells c1 JOIN cells c2 ON c1.a < c2.a),
          ta AS (SELECT sum(CAST(t AS HUGEINT) * t - t) // 2 AS n1
                 FROM (SELECT sum(o) AS t FROM cells GROUP BY a)),
          tb AS (SELECT sum(CAST(t AS HUGEINT) * t - t) // 2 AS n2
                 FROM (SELECT sum(o) AS t FROM cells GROUP BY b)),
          tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                         CAST(sum(o) AS HUGEINT) * (sum(o) - 1) // 2 AS n0 FROM cells)
          SELECT n, CAST(coalesce(c, 0) AS BIGINT) AS conc,
                 CAST(coalesce(d, 0) AS BIGINT) AS disc,
                 CASE WHEN n0 > n1 AND n0 > n2
                      THEN round(CAST(coalesce(c, 0) - coalesce(d, 0) AS DOUBLE)
                           / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
                 END AS tau_b
          FROM tot CROSS JOIN cd CROSS JOIN ta CROSS JOIN tb""",
    // Integer-count micro-nat lns throughout (HUGEINT products before
    // the ln); absent cells contribute 0 (0·ln 0), so no densify pass.
    "q189_mutual_info" ->
      """WITH cells AS (SELECT CAST(o_orderstatus AS VARCHAR) AS a,
                   CAST(o_orderpriority AS VARCHAR) AS b,
                   CAST(count(*) AS BIGINT) AS o
                 FROM orders
                 WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
                 GROUP BY 1, 2),
          rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
          ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
          t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
          mi AS (SELECT CAST(sum(CAST(round((o / CAST(n AS DOUBLE))
                     * CAST(CAST(round(ln(CAST(CAST(o AS HUGEINT) * n AS DOUBLE)) * 1e6, 0) AS BIGINT)
                          - CAST(round(ln(CAST(CAST(ra AS HUGEINT) * cb AS DOUBLE)) * 1e6, 0) AS BIGINT) AS DOUBLE), 0) AS BIGINT))
                   AS BIGINT) AS mi_micro, max(n) AS n
                 FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN t),
          ha AS (SELECT CAST(sum(CAST(round((ra / CAST(n AS DOUBLE))
                     * CAST(CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT)
                          - CAST(round(ln(CAST(ra AS DOUBLE)) * 1e6, 0) AS BIGINT) AS DOUBLE), 0) AS BIGINT))
                   AS BIGINT) AS h_a_micro FROM rt CROSS JOIN t),
          hb AS (SELECT CAST(sum(CAST(round((cb / CAST(n AS DOUBLE))
                     * CAST(CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT)
                          - CAST(round(ln(CAST(cb AS DOUBLE)) * 1e6, 0) AS BIGINT) AS DOUBLE), 0) AS BIGINT))
                   AS BIGINT) AS h_b_micro FROM ct CROSS JOIN t)
          SELECT n, mi_micro, h_a_micro, h_b_micro,
                 CASE WHEN h_a_micro > 0
                      THEN round(CAST(mi_micro AS DOUBLE) / CAST(h_a_micro AS DOUBLE), 6) END AS u_a,
                 CASE WHEN h_b_micro > 0
                      THEN round(CAST(mi_micro AS DOUBLE) / CAST(h_b_micro AS DOUBLE), 6) END AS u_b
          FROM mi CROSS JOIN ha CROSS JOIN hb""",
    // Doubled midranks per column (2r = 2*cumBefore + t + 1), exact
    // HUGEINT moment sums, one fixed-shape double for rho — mirrors the
    // engine expression shape exactly so the 6dp round agrees.
    "q188_spearman" ->
      """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS a,
                 CAST(l_extendedprice AS DOUBLE) AS b
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
          ca AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS t FROM r GROUP BY a),
          ra AS (SELECT v, CAST((sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) * 2 + t + 1 AS BIGINT) AS x
                 FROM ca),
          cb AS (SELECT b AS v, CAST(count(*) AS BIGINT) AS t FROM r GROUP BY b),
          rb AS (SELECT v, CAST((sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) * 2 + t + 1 AS BIGINT) AS y
                 FROM cb),
          j AS (SELECT ra.x, rb.y FROM r JOIN ra ON r.a = ra.v JOIN rb ON r.b = rb.v),
          s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                  sum(CAST(x AS HUGEINT) * x) AS sxx,
                  sum(CAST(y AS HUGEINT) * y) AS syy,
                  sum(CAST(x AS HUGEINT) * y) AS sxy
                FROM j)
          SELECT n,
                 CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                      THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                 END AS rho
          FROM s""",
    // Doubled midranks keep 2*R_B integer (HUGEINT-exact); U, mean and
    // the tie-corrected sigma are fixed-shape double expressions.
    "q182_mann_whitney" ->
      """WITH u AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01' THEN 0 ELSE 1 END AS side
               FROM orders WHERE o_totalprice IS NOT NULL),
          c AS (SELECT v,
                  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
                FROM u GROUP BY v),
          g AS (SELECT v, ca, cb, ca + cb AS t,
                  CAST(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (ca + cb) AS BIGINT) AS bef
                FROM c),
          a AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
                  sum(CAST(cb AS HUGEINT) * (bef * 2 + t + 1)) AS r2b,
                  sum(CAST(t AS HUGEINT) * t * t - t) AS ties
                FROM g)
          SELECT na AS n_a, nb AS n_b,
                 round((CAST(r2b AS DOUBLE) - CAST(nb AS DOUBLE) * (nb + 1)) / 2, 6) AS u_b,
                 CASE WHEN ((CAST(na AS DOUBLE) * nb) / 12)
                        * (CAST(na + nb + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * (na + nb - 1))) > 0
                      THEN round(((CAST(r2b AS DOUBLE) - CAST(nb AS DOUBLE) * (nb + 1)) / 2
                        - (CAST(na AS DOUBLE) * nb) / 2)
                        / sqrt(((CAST(na AS DOUBLE) * nb) / 12)
                          * (CAST(na + nb + 1 AS DOUBLE)
                             - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))), 6)
                 END AS z
          FROM a""",
    // Expected counts are exact integer ratios; per-cell terms micro-
    // rounded; the absent-cell correction uses ONE division over the
    // exact integer Σ ra·cb.
    "q180_chi2_indep" ->
      """WITH cells AS (SELECT CAST(o_orderstatus AS VARCHAR) AS a,
                   CAST(o_orderpriority AS VARCHAR) AS b, count(*) AS o
                 FROM orders
                 WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
                 GROUP BY 1, 2),
          rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
          ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
          t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(DISTINCT a) AS BIGINT) AS r,
                  CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
          s AS (SELECT o, ra, cb, n, r, c,
                  CAST(CAST(ra AS HUGEINT) * cb AS DOUBLE) / n AS e
                FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN t),
          ag AS (SELECT
                   CAST(sum(CAST(round((o - e) * (o - e) / e * 1e6, 0) AS BIGINT)) AS BIGINT) AS tp,
                   sum(CAST(ra AS HUGEINT) * cb) AS sprod,
                   max(n) AS n, max(r) AS r, max(c) AS c
                 FROM s),
          fin AS (SELECT tp,
                    CAST(round(CAST(sprod AS DOUBLE) * 1e6 / n, 0) AS BIGINT) AS ep,
                    n, r, c FROM ag)
          SELECT n, (r - 1) * (c - 1) AS dof,
                 tp + (n * 1000000 - ep) AS chi2_micro,
                 CASE WHEN (r - 1) * (c - 1) > 0
                      THEN round(sqrt(CAST(tp + (n * 1000000 - ep) AS DOUBLE) / 1e6
                        / (n * least(r - 1, c - 1))), 6) END AS cramers_v
          FROM fin""",
    // CDF gaps are exact integer ratios; D = max over them (order-free).
    "q176_ks_test" ->
      """WITH u AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01' THEN 0 ELSE 1 END AS side
               FROM orders WHERE o_totalprice IS NOT NULL),
          c AS (SELECT v,
                  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
                FROM u GROUP BY v),
          g AS (SELECT v,
                  sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
                  sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
                  sum(ca) OVER () AS na, sum(cb) OVER () AS nb
                FROM c),
          d AS (SELECT round(max(abs(cca / na - ccb / nb)), 6) AS d_stat,
                  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
                FROM g)
          SELECT d_stat, n_a, n_b,
                 round(least(1.0, 2.0 * exp(-2.0 * d_stat * d_stat
                   * ((CAST(n_a AS DOUBLE) * n_b) / (n_a + n_b)))), 6) AS p_value
          FROM d""",
    // Benford expectations enter both engines as the same Scala-computed
    // literals; terms micro-rounded before the order-free total.
    "q177_benford" -> {
      // CAST: DuckDB types a bare decimal literal as DECIMAL, and the
      // (n_obs − p·n)² product overflows DECIMAL(38); the engine side
      // computes in DOUBLE, so the oracle must too.
      val pCase = "CASE " + (1 to 9).map(d =>
        s"WHEN digit = $d THEN CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE)").mkString(" ") + " END"
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                 FROM lineitem
                 WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1),
          c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
          dom AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)),
          cd AS (SELECT dom.digit, CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs
                 FROM dom LEFT JOIN c USING (digit)),
          t AS (SELECT digit, n_obs, CAST(sum(n_obs) OVER () AS BIGINT) AS n FROM cd),
          m AS (SELECT digit, n_obs,
                  CASE WHEN n > 0
                       THEN CAST(round((n_obs - ($pCase) * n) * (n_obs - ($pCase) * n)
                         / (($pCase) * n) * 1e6, 0) AS BIGINT)
                       ELSE 0 END AS chi2_term_micro
                FROM t)
          SELECT digit, n_obs, chi2_term_micro,
                 CAST(sum(chi2_term_micro) OVER () AS BIGINT) AS chi2_micro
          FROM m ORDER BY digit"""
    },
    // Same determinism idiom as q137: integer-count lns in micro-nats,
    // exact integer-ratio probabilities, micro-unit terms before the sum.
    "q169_psi_drift" ->
      """WITH u AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01' THEN 0 ELSE 1 END AS side
               FROM orders),
          bo AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
          binned AS (SELECT CASE WHEN (mx - mn) / 10.0 > 0
                       THEN least(CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9)
                       ELSE 0 END AS bin, side
                     FROM u, bo),
          c AS (SELECT bin,
                  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS count_a,
                  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS count_b
                FROM binned GROUP BY bin),
          t AS (SELECT bin, count_a, count_b,
                  CAST(sum(count_a) OVER () AS BIGINT) AS na,
                  CAST(sum(count_b) OVER () AS BIGINT) AS nb
                FROM c),
          m AS (SELECT bin, count_a, count_b,
                  (CAST(round(ln(CAST(count_a * 2 + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                 - CAST(round(ln(CAST(count_b * 2 + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                 - CAST(round(ln(CAST(na * 2 + 10 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                 + CAST(round(ln(CAST(nb * 2 + 10 AS DOUBLE)) * 1e6, 0) AS BIGINT)) AS lnr,
                  CAST(count_a * 2 + 1 AS DOUBLE) / CAST(na * 2 + 10 AS DOUBLE) AS pa,
                  CAST(count_b * 2 + 1 AS DOUBLE) / CAST(nb * 2 + 10 AS DOUBLE) AS pb
                FROM t)
          SELECT bin, count_a, count_b,
                 CAST(round((pa - pb) * CAST(lnr AS DOUBLE), 0) AS BIGINT) AS term_micro,
                 CAST(sum(CAST(round((pa - pb) * CAST(lnr AS DOUBLE), 0) AS BIGINT)) OVER () AS BIGINT) AS psi_micro
          FROM m ORDER BY bin""",
    "q137_column_profile" ->
      """WITH vc AS (SELECT col_name, v, count(*) AS c FROM (
                SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
                UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
                UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
                UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders)
              GROUP BY col_name, v)
          SELECT col_name, CAST(sum(c) AS BIGINT) AS n_rows,
                 count(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct,
                 CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) * 1000000 // sum(c) AS BIGINT) AS null_ppm,
                 CAST(max(CASE WHEN v IS NOT NULL THEN c END) * 1000000
                      // (sum(c) - sum(CASE WHEN v IS NULL THEN c ELSE 0 END)) AS BIGINT) AS top_share_ppm,
                 round(ln(CAST(sum(c) - sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS DOUBLE))
                   - sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT)) / 1e6
                     / (sum(c) - sum(CASE WHEN v IS NULL THEN c ELSE 0 END)), 6) AS entropy_nats
          FROM vc GROUP BY col_name ORDER BY col_name""",
    "q132_daily_distinct_users" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
          u AS (SELECT DISTINCT day,
                 (CAST('0x' || substr(md5('graft-kmv|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u
               FROM e),
          r AS (SELECT day, u, row_number() OVER (PARTITION BY day ORDER BY u) AS rn FROM u),
          mk AS (SELECT day, u FROM r WHERE rn <= 64),
          st AS (SELECT day, count(*) AS n, max(u) AS uk FROM mk GROUP BY day),
          ex AS (SELECT day, count(DISTINCT user_id) AS n_exact FROM e GROUP BY day)
          SELECT day, n_exact, CASE WHEN n < 64 THEN n * 1.0
                                    ELSE round((64 - 1) / uk, 6) END AS kmv_est
          FROM ex JOIN st USING (day) ORDER BY day""",
    "q53_date_parts" ->
      """SELECT CAST(extract(dow FROM ts) AS BIGINT) AS dow, CAST(extract(hour FROM ts) AS BIGINT) AS hour, count(*) AS n_events, round(sum(CAST(round(value * 1000000) AS BIGINT)) / (count(*) * 1000000.0), 6) AS avg_value FROM events GROUP BY 1, 2 ORDER BY dow, hour""",
    "q54_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows, round(sum(l_extendedprice),2) AS sum_value FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q91_salted_join" ->
      """SELECT p_brand, count(*) AS n_items, round(sum(l_extendedprice),2) AS sum_price FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand""",
    "q57_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS sum_qty FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q159_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q86_equidepth_bin" ->
      """WITH e AS (SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS e1,
                          round(quantile_cont(o_totalprice, 0.50), 6) AS e2,
                          round(quantile_cont(o_totalprice, 0.75), 6) AS e3 FROM orders)
          SELECT depth_bin, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price FROM (
            SELECT CAST((o_totalprice > e1)::INT + (o_totalprice > e2)::INT + (o_totalprice > e3)::INT AS BIGINT) AS depth_bin,
                   o_totalprice
            FROM orders, e)
          GROUP BY depth_bin ORDER BY depth_bin""",
    "q84_pivot" ->
      """SELECT o_orderpriority,
            count(*) FILTER (o_orderstatus = 'F') AS n_f,
            count(*) FILTER (o_orderstatus = 'O') AS n_o,
            count(*) FILTER (o_orderstatus = 'P') AS n_p
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q59_partitioned_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders ORDER BY o_orderkey""",
    "q95_bucketed_join" ->
      """SELECT o_custkey AS custkey, c_mktsegment, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY custkey""",
    "q96_compact_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id""",
    "q121_quantile_grouped" ->
      """WITH s AS (SELECT o_orderpriority AS g,
                 (CAST('0x' || substr(md5('graft-qsk|' || o_orderkey), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u,
                 CAST(o_totalprice AS DOUBLE) AS v FROM orders),
          mk AS (SELECT g, u, v FROM
                   (SELECT g, u, v, row_number() OVER (PARTITION BY g ORDER BY u, v) AS rn FROM s)
                 WHERE rn <= 128),
          r AS (SELECT g, u, v, row_number() OVER (PARTITION BY g ORDER BY v, u) AS rn,
                  count(*) OVER (PARTITION BY g) AS n FROM mk),
          qs AS (SELECT unnest([0.5, 0.9]::DOUBLE[]) AS q),
          est AS (SELECT g, q, round(min(v), 6) AS q_est
                  FROM qs JOIN r ON r.rn = greatest(1, CAST(ceil(q * r.n) AS BIGINT))
                  GROUP BY g, q),
          ex AS (SELECT o_orderpriority AS g,
                   quantile_cont(o_totalprice, 0.5) AS e50,
                   quantile_cont(o_totalprice, 0.9) AS e90 FROM orders GROUP BY 1)
          SELECT g AS o_orderpriority, q, q_est,
                 round(CASE WHEN q = 0.5 THEN e50 ELSE e90 END, 6) AS exact
          FROM est JOIN ex USING (g) ORDER BY o_orderpriority, q""",
    "q120_zorder_layout" -> {
      val zTerms = (0 until 8).flatMap(i => Seq(
        s"((((o_custkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((o_orderkey % 256) >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""SELECT o_orderkey, CAST($zTerms AS BIGINT) AS zval
          FROM orders ORDER BY o_orderkey"""
    })
}
