package graft.queries

import graft.Tables
import graft.ops.{KAnonymity, LDiversity, SyntheticData, TCloseness}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The anonymization surface (SURVEY §2 A/P/J operators composed into the
  * reference's pipelines) run against the `orders` table as microdata:
  * QI = (o_custkey, o_orderstatus) — fine-grained enough that suppression at
  * k=3 actually suppresses — and sensitive attribute = the order-value
  * bucket. Each query has an exact DuckDB oracle; the EMD computation uses
  * the same closed-form cumsum on both sides.
  */
object AnonymityQueries {
  type Q = (SparkSession, String) => DataFrame

  private val qis = Seq("o_custkey", "o_orderstatus")
  private val K = 3

  /** Sensitive-position column: order value bucketed by fixed edges. */
  private def withSbin(o: DataFrame): DataFrame =
    o.withColumn("sbin",
      when(col("o_totalprice") <= 50000, 0L)
        .when(col("o_totalprice") <= 150000, 1L)
        .when(col("o_totalprice") <= 300000, 2L)
        .otherwise(3L))

  private val sbinSql =
    "CASE WHEN o_totalprice <= 50000 THEN 0 WHEN o_totalprice <= 150000 THEN 1 WHEN o_totalprice <= 300000 THEN 2 ELSE 3 END"

  val queries: Map[String, Q] = Map(
    // Synthetic microdata from 1-way marginals: inverse-CDF over the
    // exact cumulative distributions with portable-hash draws — the
    // disclosure-control release (columns drawn independently; no
    // synthetic row maps to a real individual). Every cell replays in
    // DuckDB via the same cum >= u rule.
    "q181_synthetic_marginals" -> ((s, dir) => {
      SyntheticData.fromMarginals(Tables.orders(s, dir),
          Seq("o_orderstatus", "o_orderpriority"), n = 1000L)
        .orderBy("sid")
    }),

    // E1 core: k-anonymity suppression (window-count formulation, 1 shuffle).
    "q20_kanon_suppress" -> ((s, dir) => {
      KAnonymity.suppress(Tables.orders(s, dir), qis, K)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Same semantics via agg + broadcast semi-join — must agree with q20.
    "q21_kanon_semijoin" -> ((s, dir) => {
      KAnonymity.suppressSemiJoin(Tables.orders(s, dir), qis, K)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // The printed metric block as one row: sizes, k-range, risk, rates.
    "q22_kanon_metrics" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val gs = KAnonymity.groupSizes(o, qis)
      val kept = gs.filter(col("grp_cnt") >= K)
      val keptAgg = kept.agg(
        sum("grp_cnt").as("anon_rows"),
        count(lit(1)).as("n_groups"),
        min("grp_cnt").as("k_min"),
        max("grp_cnt").as("k_max"))
      val origAgg = o.agg(count(lit(1)).as("orig_rows"))
      keptAgg.crossJoin(origAgg).select(
        col("orig_rows"), col("anon_rows"), col("n_groups"), col("k_min"), col("k_max"),
        round(col("n_groups") / col("anon_rows"), 6).as("reid_risk"),
        round((col("orig_rows") - col("anon_rows")) / col("orig_rows"), 6).as("suppression_rate"))
    }),

    // NCP: per-QI distinct-value loss between original and suppressed.
    "q23_ncp" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val anon = KAnonymity.suppress(o, qis, K)
      val od = o.agg(
        countDistinct("o_custkey").as("od_cust"),
        countDistinct("o_orderstatus").as("od_status"))
      val ad = anon.agg(
        countDistinct("o_custkey").as("ad_cust"),
        countDistinct("o_orderstatus").as("ad_status"))
      od.crossJoin(ad).select(
        col("od_cust"), col("ad_cust"), col("od_status"), col("ad_status"),
        round(((col("od_cust") - col("ad_cust")) / col("od_cust")
          + (col("od_status") - col("ad_status")) / col("od_status")) / 2, 6).as("ncp"))
    }),

    // Audit mode (Archived/data-anonymity.py:70): rows in at-risk groups
    // with the group's k attached — a true inner join with payload.
    "q24_vulnerable_records" -> ((s, dir) => {
      KAnonymity.vulnerableRecords(Tables.orders(s, dir), qis, K)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("grp_cnt"))
        .orderBy("o_orderkey")
    }),

    // Intended t-closeness semantics: per-group 1-D EMD of the sensitive
    // bucket distribution vs. the global one (the closed form over each
    // class's sparse (bucket, count) entries — the reference's per-group
    // Python loop collapsed into one plan).
    "q25_tcloseness_emd" -> ((s, dir) => {
      val o = withSbin(Tables.orders(s, dir))
      TCloseness.groupEmd(o, Seq("o_orderstatus", "o_orderpriority"), "sbin")
        .select(col("o_orderstatus"), col("o_orderpriority"), round(col("emd"), 6).as("emd"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Full E3 pipeline: k-anonymity then t-closeness suppression.
    "q26_tcloseness_filter" -> ((s, dir) => {
      val o = withSbin(Tables.orders(s, dir))
      TCloseness.filter(o, Seq("o_orderstatus", "o_orderpriority"), "sbin", K, 0.02)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // Categorical t-closeness: per-class total-variation distance of the
    // o_orderpriority distribution vs the global one, classes = 50
    // custkey buckets x status — the nominal-attribute form where EMD
    // degenerates to TV and no ordinal encoding exists.
    "q113_tcloseness_tv" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("cust_bucket", pmod(col("o_custkey"), lit(50)))
      TCloseness.groupTv(o, Seq("cust_bucket", "o_orderstatus"), "o_orderpriority")
        .select(col("cust_bucket"), col("o_orderstatus"),
          round(col("tv"), 6).as("tv"))
        .orderBy("cust_bucket", "o_orderstatus")
    }),

    // l-diversity audit (homogeneity-attack surface): per coarse class,
    // size, distinct sensitive values, and in-class sensitive entropy —
    // the two-level aggregation reduces to one row per (class, sbin)
    // before the class-level regroup.
    "q98_ldiv_audit" -> ((s, dir) => {
      LDiversity.groupDiversity(withSbin(Tables.orders(s, dir)),
          Seq("o_orderstatus", "o_orderpriority"), "sbin")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("grp_cnt"), col("l_distinct"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Distinct l-diversity suppression on the FINE-grained QI (classes of
    // 1-3 rows, so l=2 genuinely suppresses): keep rows whose class shows
    // >= 2 distinct sensitive buckets.
    "q99_ldiv_suppress" -> ((s, dir) => {
      LDiversity.suppress(withSbin(Tables.orders(s, dir)),
          qis, "sbin", l = 2)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // q25 recomputed through the typed EmdAggregator (custom-UDAF path):
    // one shuffle, map-side partial count-maps, and finish() runs the same
    // closed-form loop as q25's class table. Must hash-match q25's oracle.
    "q55_tcloseness_emd_agg" -> ((s, dir) => {
      val o = withSbin(Tables.orders(s, dir))
      TCloseness.groupEmdAgg(o, Seq("o_orderstatus", "o_orderpriority"), "sbin")
        .select(col("o_orderstatus"), col("o_orderpriority"), round(col("emd"), 6).as("emd"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // M1 parity: alphabetical label encoding (sklearn LabelEncoder order)
    // as a broadcast dictionary join — no global window at scale.
    // Mondrian multidimensional k-anonymity over customer (QIs =
    // nationkey, acctbal; k = 25): deterministic recursive median cuts,
    // per-partition min-max generalization, partition size as the
    // certificate. No SQL oracle (the cut tree is iterative) — verified
    // by the q138 self-check (exact k-anonymity on the rendered ranges,
    // row preservation, >1 partition) plus MondrianSpec.
    "q138_mondrian" -> ((s, dir) => {
      graft.ops.Mondrian.anonymize(Tables.customer(s, dir),
          Seq("c_nationkey", "c_acctbal"), k = 25)
        .select("c_custkey", "c_nationkey_range", "c_acctbal_range", "group_size")
        .orderBy("c_custkey")
    }),

    "q27_label_encode" -> ((s, dir) => {
      TCloseness.ordinal(Tables.events(s, dir), "event_type", "event_type_idx")
        .select("event_id", "event_type", "event_type_idx")
        .orderBy("event_id")
    }))

  val oracles: Map[String, String] = Map(
    // Mondrian replay: 12 unrolled MATERIALIZED levels (levels past the
    // natural recursion depth are no-op identities — no partition still
    // qualifies to split, so extra rounds are harmless). Per level: exact
    // interpolated medians (quantile_cont == Spark percentile), candidate
    // dims ranked by the same (negWidth, qiIndex) struct sort, first dim
    // with >= k rows on BOTH sides wins, left/right renumber. Double
    // renders agree (shortest-roundtrip, plain-decimal range).
    "q138_mondrian" -> {
      val K = 25
      val levels = (0 until 12).map { k =>
        s"""st$k AS MATERIALIZED (
             SELECT pid, count(*) AS n,
                    min(d0) AS mn0, max(d0) AS mx0, quantile_cont(d0, 0.5) AS md0,
                    min(d1) AS mn1, max(d1) AS mx1, quantile_cont(d1, 0.5) AS md1
             FROM s$k GROUP BY pid),
           sc$k AS MATERIALIZED (
             SELECT s.pid,
                    sum(CASE WHEN s.d0 <= t.md0 THEN 1 ELSE 0 END) AS le0,
                    sum(CASE WHEN s.d1 <= t.md1 THEN 1 ELSE 0 END) AS le1
             FROM s$k s JOIN st$k t USING (pid) GROUP BY s.pid),
           cut$k AS MATERIALIZED (
             SELECT pid, ch.dim AS sdim, ch.med AS smed FROM (
               SELECT t.pid,
                 list_filter(list_sort(list_filter([
                     {'negw': CASE WHEN g.r0 > 0 THEN (t.mn0 - t.mx0)/g.r0 ELSE 0 END, 'qidx': 0, 'dim': 0, 'med': t.md0},
                     {'negw': CASE WHEN g.r1 > 0 THEN (t.mn1 - t.mx1)/g.r1 ELSE 0 END, 'qidx': 1, 'dim': 1, 'med': t.md1}
                   ], d -> d.negw < 0)),
                   d -> CASE WHEN d.dim = 0 THEN c.le0 >= $K AND t.n - c.le0 >= $K
                             ELSE c.le1 >= $K AND t.n - c.le1 >= $K END)[1] AS ch
               FROM st$k t JOIN sc$k c USING (pid) CROSS JOIN g
               WHERE t.n >= ${2 * K})
             WHERE ch IS NOT NULL),
           s${k + 1} AS MATERIALIZED (
             SELECT s.c_custkey, s.c_nationkey, s.c_acctbal, s.d0, s.d1,
                    CASE WHEN c.pid IS NULL THEN s.pid
                         WHEN (CASE WHEN c.sdim = 0 THEN s.d0 <= c.smed ELSE s.d1 <= c.smed END)
                           THEN s.pid*2+1 ELSE s.pid*2+2 END AS pid
             FROM s$k s LEFT JOIN cut$k c USING (pid))"""
      }.mkString(",\n")
      s"""WITH s0 AS MATERIALIZED (SELECT c_custkey, c_nationkey, c_acctbal,
                 CAST(c_nationkey AS DOUBLE) AS d0, CAST(c_acctbal AS DOUBLE) AS d1,
                 CAST(0 AS BIGINT) AS pid FROM customer),
          g AS MATERIALIZED (SELECT greatest(max(d0)-min(d0),0) AS r0,
                 greatest(max(d1)-min(d1),0) AS r1 FROM s0),
          $levels,
          fin AS (SELECT c_custkey,
                   min(c_nationkey) OVER (PARTITION BY pid) AS n_lo,
                   max(c_nationkey) OVER (PARTITION BY pid) AS n_hi,
                   min(c_acctbal) OVER (PARTITION BY pid) AS a_lo,
                   max(c_acctbal) OVER (PARTITION BY pid) AS a_hi,
                   count(*) OVER (PARTITION BY pid) AS group_size
                 FROM s12)
          SELECT c_custkey,
                 n_lo::VARCHAR || '-' || n_hi::VARCHAR AS c_nationkey_range,
                 a_lo::VARCHAR || '-' || a_hi::VARCHAR AS c_acctbal_range,
                 CAST(group_size AS BIGINT) AS group_size
          FROM fin ORDER BY c_custkey"""
    },
    // min value with cum >= u — cum strictly increasing, so min_by is
    // exactly the engine's first-matching-CASE arm.
    "q181_synthetic_marginals" -> {
      def uSql(c: String) =
        s"(CAST('0x' || substr(md5('graft-synth|$c|' || CAST(sid AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0"
      def pick(c: String) =
        s"""(SELECT sid, min_by(v, cum) AS $c
             FROM ids JOIN (SELECT v, sum(cn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              / CAST(sum(cn) OVER () AS DOUBLE) AS cum
                            FROM (SELECT CAST($c AS VARCHAR) AS v, count(*) AS cn
                                  FROM orders WHERE $c IS NOT NULL GROUP BY 1)) m
               ON m.cum >= ${uSql(c)}
             GROUP BY sid)"""
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS sid),
          s1 AS ${pick("o_orderstatus")},
          s2 AS ${pick("o_orderpriority")}
          SELECT CAST(s1.sid AS BIGINT) AS sid, s1.o_orderstatus, s2.o_orderpriority
          FROM s1 JOIN s2 ON s1.sid = s2.sid ORDER BY sid"""
    },
    "q20_kanon_suppress" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus FROM (SELECT o_orderkey, o_custkey, o_orderstatus, count(*) OVER (PARTITION BY o_custkey, o_orderstatus) AS gc FROM orders) t WHERE gc >= $K ORDER BY o_orderkey""",
    "q21_kanon_semijoin" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus FROM (SELECT o_orderkey, o_custkey, o_orderstatus, count(*) OVER (PARTITION BY o_custkey, o_orderstatus) AS gc FROM orders) t WHERE gc >= $K ORDER BY o_orderkey""",
    "q22_kanon_metrics" ->
      s"""WITH gs AS (SELECT o_custkey, o_orderstatus, count(*) AS cnt FROM orders GROUP BY 1, 2), kept AS (SELECT * FROM gs WHERE cnt >= $K), ka AS (SELECT CAST(sum(cnt) AS BIGINT) AS anon_rows, count(*) AS n_groups, min(cnt) AS k_min, max(cnt) AS k_max FROM kept), oa AS (SELECT count(*) AS orig_rows FROM orders) SELECT orig_rows, anon_rows, n_groups, k_min, k_max, round(n_groups * 1.0 / anon_rows, 6) AS reid_risk, round((orig_rows - anon_rows) * 1.0 / orig_rows, 6) AS suppression_rate FROM ka, oa""",
    "q23_ncp" ->
      s"""WITH anon AS (SELECT o_custkey, o_orderstatus FROM (SELECT o_custkey, o_orderstatus, count(*) OVER (PARTITION BY o_custkey, o_orderstatus) AS gc FROM orders) t WHERE gc >= $K), od AS (SELECT count(DISTINCT o_custkey) AS od_cust, count(DISTINCT o_orderstatus) AS od_status FROM orders), ad AS (SELECT count(DISTINCT o_custkey) AS ad_cust, count(DISTINCT o_orderstatus) AS ad_status FROM anon) SELECT od_cust, ad_cust, od_status, ad_status, round(((od_cust - ad_cust) * 1.0 / od_cust + (od_status - ad_status) * 1.0 / od_status) / 2, 6) AS ncp FROM od, ad""",
    "q24_vulnerable_records" ->
      s"""WITH gs AS (SELECT o_custkey, o_orderstatus, count(*) AS grp_cnt FROM orders GROUP BY 1, 2) SELECT o_orderkey, o.o_custkey, o.o_orderstatus, grp_cnt FROM orders o JOIN gs ON o.o_custkey = gs.o_custkey AND o.o_orderstatus = gs.o_orderstatus WHERE grp_cnt < $K ORDER BY o_orderkey""",
    "q25_tcloseness_emd" ->
      s"""WITH b AS (SELECT o_orderstatus, o_orderpriority, $sbinSql AS sbin FROM orders), cell AS (SELECT o_orderstatus, o_orderpriority, sbin, count(*) AS cnt FROM b GROUP BY 1, 2, 3), grps AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM b), gl AS (SELECT sbin, count(*) AS gcnt FROM b GROUP BY 1), gl2 AS (SELECT sbin, gcnt * 1.0 / sum(gcnt) OVER () AS q FROM gl), dense AS (SELECT g.o_orderstatus, g.o_orderpriority, s.sbin, s.q, COALESCE(c.cnt, 0) AS cnt FROM grps g CROSS JOIN gl2 s LEFT JOIN cell c ON c.o_orderstatus = g.o_orderstatus AND c.o_orderpriority = g.o_orderpriority AND c.sbin = s.sbin), pq AS (SELECT o_orderstatus, o_orderpriority, sbin, q, cnt * 1.0 / sum(cnt) OVER (PARTITION BY o_orderstatus, o_orderpriority) AS p FROM dense), cm AS (SELECT o_orderstatus, o_orderpriority, sbin, sum(p) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS cp, sum(q) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS cq, lead(sbin) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS nxt FROM pq) SELECT o_orderstatus, o_orderpriority, round(sum(abs(cp - cq) * (nxt - sbin)), 6) AS emd FROM cm WHERE nxt IS NOT NULL GROUP BY o_orderstatus, o_orderpriority ORDER BY o_orderstatus, o_orderpriority""",
    "q26_tcloseness_filter" ->
      s"""WITH b AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, $sbinSql AS sbin FROM orders), kanon AS (SELECT * FROM (SELECT b.*, count(*) OVER (PARTITION BY o_orderstatus, o_orderpriority) AS gc FROM b) t WHERE gc >= $K), cell AS (SELECT o_orderstatus, o_orderpriority, sbin, count(*) AS cnt FROM kanon GROUP BY 1, 2, 3), grps AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM kanon), gl AS (SELECT sbin, count(*) AS gcnt FROM kanon GROUP BY 1), gl2 AS (SELECT sbin, gcnt * 1.0 / sum(gcnt) OVER () AS q FROM gl), dense AS (SELECT g.o_orderstatus, g.o_orderpriority, s.sbin, s.q, COALESCE(c.cnt, 0) AS cnt FROM grps g CROSS JOIN gl2 s LEFT JOIN cell c ON c.o_orderstatus = g.o_orderstatus AND c.o_orderpriority = g.o_orderpriority AND c.sbin = s.sbin), pq AS (SELECT o_orderstatus, o_orderpriority, sbin, q, cnt * 1.0 / sum(cnt) OVER (PARTITION BY o_orderstatus, o_orderpriority) AS p FROM dense), cm AS (SELECT o_orderstatus, o_orderpriority, sbin, sum(p) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS cp, sum(q) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS cq, lead(sbin) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS nxt FROM pq), emd AS (SELECT o_orderstatus, o_orderpriority, sum(abs(cp - cq) * (nxt - sbin)) AS emd FROM cm WHERE nxt IS NOT NULL GROUP BY 1, 2), pass AS (SELECT o_orderstatus, o_orderpriority FROM emd WHERE emd <= 0.02) SELECT o_orderkey, k.o_orderstatus, k.o_orderpriority FROM kanon k JOIN pass p ON k.o_orderstatus = p.o_orderstatus AND k.o_orderpriority = p.o_orderpriority ORDER BY o_orderkey""",
    "q55_tcloseness_emd_agg" ->
      s"""WITH b AS (SELECT o_orderstatus, o_orderpriority, $sbinSql AS sbin FROM orders), cell AS (SELECT o_orderstatus, o_orderpriority, sbin, count(*) AS cnt FROM b GROUP BY 1, 2, 3), grps AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM b), gl AS (SELECT sbin, count(*) AS gcnt FROM b GROUP BY 1), gl2 AS (SELECT sbin, gcnt * 1.0 / sum(gcnt) OVER () AS q FROM gl), dense AS (SELECT g.o_orderstatus, g.o_orderpriority, s.sbin, s.q, COALESCE(c.cnt, 0) AS cnt FROM grps g CROSS JOIN gl2 s LEFT JOIN cell c ON c.o_orderstatus = g.o_orderstatus AND c.o_orderpriority = g.o_orderpriority AND c.sbin = s.sbin), pq AS (SELECT o_orderstatus, o_orderpriority, sbin, q, cnt * 1.0 / sum(cnt) OVER (PARTITION BY o_orderstatus, o_orderpriority) AS p FROM dense), cm AS (SELECT o_orderstatus, o_orderpriority, sbin, sum(p) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS cp, sum(q) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS cq, lead(sbin) OVER (PARTITION BY o_orderstatus, o_orderpriority ORDER BY sbin) AS nxt FROM pq) SELECT o_orderstatus, o_orderpriority, round(sum(abs(cp - cq) * (nxt - sbin)), 6) AS emd FROM cm WHERE nxt IS NOT NULL GROUP BY o_orderstatus, o_orderpriority ORDER BY o_orderstatus, o_orderpriority""",
    "q27_label_encode" ->
      """SELECT event_id, event_type, CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT) AS event_type_idx FROM events ORDER BY event_id""",
    "q113_tcloseness_tv" ->
      """WITH b AS (SELECT o_custkey % 50 AS cust_bucket, o_orderstatus, o_orderpriority FROM orders),
          cell AS (SELECT cust_bucket, o_orderstatus, o_orderpriority, count(*) AS c
                   FROM b GROUP BY 1, 2, 3),
          gl AS (SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS g FROM cell GROUP BY 1),
          gq AS (SELECT o_orderpriority, g * 1.0 / sum(g) OVER () AS q FROM gl),
          grp AS (SELECT DISTINCT cust_bucket, o_orderstatus FROM cell),
          dense AS (SELECT grp.cust_bucket, grp.o_orderstatus, gq.o_orderpriority, gq.q,
                      COALESCE(cell.c, 0) AS c
                    FROM grp CROSS JOIN gq
                    LEFT JOIN cell ON cell.cust_bucket = grp.cust_bucket
                      AND cell.o_orderstatus = grp.o_orderstatus
                      AND cell.o_orderpriority = gq.o_orderpriority),
          p AS (SELECT cust_bucket, o_orderstatus, q,
                  c * 1.0 / sum(c) OVER (PARTITION BY cust_bucket, o_orderstatus) AS p
                FROM dense)
          SELECT cust_bucket, o_orderstatus, round(sum(abs(p - q)) / 2, 6) AS tv
          FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    "q98_ldiv_audit" ->
      s"""WITH cells AS (SELECT o_orderstatus, o_orderpriority, $sbinSql AS sbin, count(*) AS c
                         FROM orders GROUP BY 1, 2, 3)
          SELECT o_orderstatus, o_orderpriority,
                 CAST(sum(c) AS BIGINT) AS grp_cnt,
                 count(*) AS l_distinct,
                 round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
          FROM cells GROUP BY 1, 2 ORDER BY 1, 2""",
    "q99_ldiv_suppress" ->
      s"""WITH div AS (SELECT o_custkey, o_orderstatus FROM
                         (SELECT o_custkey, o_orderstatus, $sbinSql AS sbin FROM orders)
                       GROUP BY 1, 2 HAVING count(DISTINCT sbin) >= 2)
          SELECT o_orderkey, o_custkey, o_orderstatus
          FROM orders JOIN div USING (o_custkey, o_orderstatus)
          ORDER BY o_orderkey""")
}
