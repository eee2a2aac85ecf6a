package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectations over a table: each check reduces to ONE row
  * (check_name, n_bad, n_total, bad_rate) so a validation suite is a
  * union of tiny aggregates — the admission gate a corpus or fact table
  * passes before entering a 100 TB pipeline.
  *
  * Scale: every check is a single map-side-combined aggregation (or one
  * key-hashed aggregation for uniqueness, one join for referential
  * integrity); checks over the same table share its scan when unioned in
  * one plan. Nothing collects to the driver — the report IS a DataFrame.
  */
object DataQuality {

  private def one(df: DataFrame, name: String, bad: Column): DataFrame =
    df.agg(count(lit(1)).as("n_total"),
        sum(when(bad, 1L).otherwise(0L)).as("n_bad"))
      .select(lit(name).as("check_name"), col("n_bad"), col("n_total"),
        round(col("n_bad") / col("n_total"), 6).as("bad_rate"))

  /** Rows where `c` is null. */
  def nullCheck(df: DataFrame, c: String): DataFrame =
    one(df, s"null:$c", col(c).isNull)

  /** Rows where `c` falls outside [lo, hi] (nulls count as violations). */
  def rangeCheck(df: DataFrame, c: String, lo: Double, hi: Double): DataFrame =
    one(df, s"range:$c", !col(c).between(lo, hi) || col(c).isNull)

  /** Rows whose key occurs more than once (every member of a colliding
    * group counts, matching "rows you could not primary-key"). */
  def uniqueCheck(df: DataFrame, keys: Seq[String]): DataFrame = {
    val name = s"unique:${keys.mkString(",")}"
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(sum("__c").as("n_total"),
        sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("n_bad"))
      .select(lit(name).as("check_name"), col("n_bad"), col("n_total"),
        round(col("n_bad") / col("n_total"), 6).as("bad_rate"))
  }

  /** Child rows whose key has no match in the parent (referential
    * integrity). The parent side reduces to its distinct keys before the
    * join, so the build side is key-cardinality-sized. */
  def referenceCheck(child: DataFrame, parent: DataFrame,
                     childKey: String, parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as(childKey)).distinct()
      .withColumn("__hit", lit(1))
    one(child.join(p, Seq(childKey), "left"),
      s"ref:$childKey->$parentKey", col("__hit").isNull)
  }

  /** One-pass column profile (the Deequ/profiler shape): for each listed
    * column, row count, exact distinct count, null rate, top-value share
    * (both integer ppm — `x·1e6 div n` replays exactly in any engine) and
    * Shannon entropy of the value distribution in nats. Values are
    * profiled through a single canonical string cast so heterogeneous
    * column types share one melt.
    *
    * Scale: `stack` melts each row into |cols| (col, value) pairs inside
    * codegen (one scan, no self-union of the input), the first exchange
    * reduces to (col, value) counts with map-side combine, and the
    * second reduces to |cols| rows. Entropy uses H = ln(n) − Σc·ln(c)/n
    * with per-value ln(c) quantized to integer micro-nats, so the sum is
    * exact integer arithmetic — order-independent under any partial-agg
    * schedule (the q80 lesson). Profiling a truly high-cardinality
    * column costs one distinct-sized shuffle — the same price as the
    * exact `n_distinct` it reports; swap in the KMV estimate (q117) when
    * approximation is acceptable. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val pairs = cols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    df.selectExpr(s"stack(${cols.size}, $pairs) AS (col_name, v)")
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("__c"))
      .groupBy(col("col_name"))
      .agg(
        sum("__c").cast("long").as("n_rows"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        sum(when(col("v").isNull, col("__c")).otherwise(lit(0L)))
          .cast("long").as("__nulls"),
        max(when(col("v").isNotNull, col("__c"))).cast("long").as("__topc"),
        sum(when(col("v").isNotNull,
            col("__c") * round(log(col("__c").cast("double")) * 1e6, 0).cast("long"))
          .otherwise(lit(0L))).cast("long").as("__clnc"))
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        expr("__nulls * 1000000L div n_rows").as("null_ppm"),
        expr("__topc * 1000000L div (n_rows - __nulls)").as("top_share_ppm"),
        round(log((col("n_rows") - col("__nulls")).cast("double"))
          - col("__clnc") / 1e6 / (col("n_rows") - col("__nulls")), 6)
          .as("entropy_nats"))
  }

  /** One-row key-skew report — the pre-flight a 100 TB join/agg runs on
    * its shuffle key before choosing the salted path (q54/q91): total
    * rows, distinct keys, the heaviest key's row count, exact p50/p99 of
    * per-key counts, and skew_ppm = max·keys·1e6 div rows (1e6 = every
    * key equal; the integer form replays exactly in any engine).
    *
    * Scale: one key-hashed count plus a count-cardinality-sized agg.
    * The exact percentiles funnel the per-KEY counts (not rows) into one
    * buffer — at extreme key cardinality swap in the grouped quantile
    * sketch (q121's path); the report stays a DataFrame either way.
    */
  def skewReport(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .agg(
        sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("__c")).as("max_key_rows"),
        round(expr("percentile(__c, 0.5)"), 6).as("p50_key_rows"),
        round(expr("percentile(__c, 0.99)"), 6).as("p99_key_rows"))
      .withColumn("skew_ppm",
        expr("max_key_rows * n_keys * 1000000L div n_rows"))

  /** Exact two-sample Kolmogorov-Smirnov statistic between two
    * snapshots of a numeric column: D = sup_x |F_A(x) − F_B(x)|,
    * evaluated exactly at every distinct value (ties on either side
    * handled by aggregating counts per value BEFORE the cumulative
    * pass), plus the asymptotic two-sided p-value 2·exp(−2·m·D²) with
    * m = nA·nB/(nA+nB) (Smirnov). The sharper distribution-shape
    * companion to [[psiDrift]]'s binned score: D is binning-free.
    *
    * Determinism: the CDFs are exact integer ratios (cumulative count /
    * total) evaluated in one IEEE division each; D is a max over those
    * — max is order-free, so no summation-order hazard exists anywhere.
    * D rounds to 6 dp before the p-value so both replay externally.
    *
    * Scale: one distinct-value aggregation (map-side combined, domain-
    * sized), then the cumulative CDFs through the RANK-OFFSET prefix-sum
    * scheme ([[Ranking.globalPrefixSum]], 1024 equal-width monotone
    * buckets from a 1-row bounds probe) — a continuous column's distinct
    * domain is data-sized, so a naive `ORDER BY v` running sum would
    * funnel it through one task; here the only serial step is the
    * 1024-row offset table — and a 1-row max. */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    // NULL values never enter the prefix-sum (globalPrefixSum drops null
    // order keys), so they must not inflate the totals either — filter
    // them out of the union so both CDFs cover the same row set.
    val u = a.select(col(valueCol).cast("double").as("__v"))
      .withColumn("__side", lit(0))
      .unionAll(b.select(col(valueCol).cast("double").as("__v"))
        .withColumn("__side", lit(1)))
      .filter(col("__v").isNotNull)
    val counts = u.groupBy(col("__v"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
    val tot = counts.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    val (withB, bucket) = Ranking.valueBuckets(counts, "__v")
    val cum = Ranking.globalPrefixSum(
      Ranking.globalPrefixSum(withB, Seq("__v"), bucket, "__ca", "__cca"),
      Seq("__v"), bucket, "__cb", "__ccb")
    val gaps = cum.crossJoin(broadcast(tot))
      .withColumn("__gap",
        abs(col("__cca") / col("__na") - col("__ccb") / col("__nb")))
    gaps.agg(round(max(col("__gap")), 6).as("d_stat"),
        max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"))
      .withColumn("p_value",
        round(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("d_stat") * col("d_stat")
          * (col("n_a").cast("double") * col("n_b") / (col("n_a") + col("n_b"))))), 6))
  }

  /** Exact Mann-Whitney U (Wilcoxon rank-sum) between two snapshots of
    * a numeric column — the LOCATION-shift companion to [[ksTest]]'s
    * shape statistic: U/z answer "did the distribution move up or
    * down", with exact midranks for ties and the standard tie-corrected
    * normal approximation z = (U − nAnB/2) / σ,
    * σ² = nAnB/12 · ((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Determinism: doubled ranks keep everything INTEGER — midrank(v) =
    * cumBefore + (t+1)/2, so 2·R_B = Σ cb·(2·cumBefore + t + 1) is an
    * exact decimal(38) sum (order-free); U, the mean, and σ derive from
    * those integers through fixed-shape double expressions, rounded to
    * 6 dp. The cumulative pass is [[Ranking.globalPrefixSum]], same as
    * ksTest — no data-sized global window.
    *
    * Output: one row (n_a, n_b, u_b — B's U statistic — and z; z > 0
    * means B ranks higher). */
  def mannWhitneyU(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    // same NULL contract as ksTest: null values can't be ranked, so
    // they must not count toward n_a/n_b either
    val u = a.select(col(valueCol).cast("double").as("__v"))
      .withColumn("__side", lit(0))
      .unionAll(b.select(col(valueCol).cast("double").as("__v"))
        .withColumn("__side", lit(1)))
      .filter(col("__v").isNotNull)
    val counts = u.groupBy(col("__v"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
      .withColumn("__t", col("__ca") + col("__cb"))
    val cum = Ranking.valueCountsBefore(counts, "__v", "__t")
    val agg = cum.agg(
      sum(col("__ca")).as("n_a"),
      sum(col("__cb")).as("n_b"),
      // 2·R_B and the tie term: operands widen to decimal(38) BEFORE
      // the multiply — at 1e12 rows cb·(2·before+t+1) is ~1e24 and t³
      // ~1e36, both far past a 64-bit product (which would wrap
      // silently under non-ANSI); matches the oracle's HUGEINT.
      sum(col("__cb").cast("decimal(38,0)")
        * (col("__before") * 2 + col("__t") + 1)).as("__r2b"),
      sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")).as("__ties"))
    val n = col("n_a") + col("n_b")
    val u2b = col("__r2b").cast("double") - col("n_b").cast("double") * (col("n_b") + 1)
    val uB = u2b / 2
    val mean = col("n_a").cast("double") * col("n_b") / 2
    val variance = col("n_a").cast("double") * col("n_b") / 12 *
      ((n + 1).cast("double") - col("__ties").cast("double") / (n.cast("double") * (n - 1)))
    agg.select(col("n_a"), col("n_b"),
      round(uB, 6).as("u_b"),
      when(variance > 0, round((uB - mean) / sqrt(variance), 6))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Exact Spearman rank correlation between two numeric columns — the
    * MONOTONE-association audit ([[chiSquareIndependence]] for numeric
    * pairs): outlier-robust where Pearson is not, catches any monotone
    * dependency between a would-be-independent pair (a "random" shard
    * key vs a timestamp, a quality score vs document length). ρ =
    * Pearson over midranks, computed closed-form from exact integer
    * sums: doubled midranks (2r = 2·cumBefore + t + 1, the q182 idiom)
    * keep every rank integer under ties; Σx, Σy, Σx², Σy², Σxy
    * accumulate in decimal(38) (order-free, HUGEINT-replayable; safe to
    * ~3e12 rows since Σxy ≤ 4n³); the final
    * (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) is one fixed-shape
    * double expression, rounded to 6 dp — the mannWhitneyU determinism
    * contract. A constant column yields NULL (undefined), not a
    * divide-by-zero.
    *
    * Scale: per-column ranks via [[Ranking.globalPrefixSum]] over the
    * value-counts table (1024 monotone buckets — no data-sized global
    * window), joined back value-keyed; one 1-row final aggregate.
    * NULL in either column excludes the ROW (both CDFs cover the same
    * row set — the ksTest contract). Output: one row (n, rho). */
  def spearman(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.select(col(aCol).cast("double").as("__a"),
        col(bCol).cast("double").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    def doubledRanks(vc: String, out: String): DataFrame = {
      val counts = rows.groupBy(col(vc).as("__v")).agg(count(lit(1)).as("__t"))
      Ranking.valueCountsBefore(counts, "__v", "__t")
        .withColumn(out, col("__before") * 2 + col("__t") + 1)
        .select(col("__v").as(vc), col(out))
    }
    val joined = rows
      .join(doubledRanks("__a", "__x"), Seq("__a"))
      .join(doubledRanks("__b", "__y"), Seq("__b"))
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    val s = joined.agg(
      count(lit(1)).as("n"),
      sum(wide(col("__x"))).as("__sx"), sum(wide(col("__y"))).as("__sy"),
      sum(wide(col("__x")) * col("__x")).as("__sxx"),
      sum(wide(col("__y")) * col("__y")).as("__syy"),
      sum(wide(col("__x")) * col("__y")).as("__sxy"))
    val nD = col("n").cast("double")
    val num = nD * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")
    val da = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val db = nD * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    s.select(col("n"),
      when(da > 0 && db > 0, round(num / sqrt(da * db), 6))
        .otherwise(lit(null).cast("double")).as("rho"))
  }

  /** Order-free content fingerprint of a dataset over `cols`: row count
    * plus the SUM and XOR of a 60-bit portable per-row hash — two
    * datasets equal AS MULTISETS over those columns fingerprint
    * identically regardless of row order, partitioning, or file layout,
    * and (sum, xor, count) together make silent corruption collisions
    * vanishingly unlikely. This is the cheap end-to-end integrity check
    * a versioned 100 TB store needs: an append chain must fingerprint
    * identically to its compaction, a replicated table to its source, a
    * replayed ingest to the original — one commutative aggregation each
    * (map-side combined; no shuffle beyond the final 1-row reduce), no
    * sort, no join.
    *
    * Rows hash portably ([[graft.functions.PortableHash]]): each column
    * renders `coalesce(cast(c AS string), chr(1))` — chr(1) marks NULL
    * distinctly from '' — joined by chr(2), then md5 → 60 bits. The sum
    * aggregates in decimal(38) (exceeds a long's range around 10^19th
    * row-hash mass; render it as a string for cross-engine compare).
    * Avoid double columns in `cols` unless both engines render them
    * identically — ints, strings, dates, decimals are safe. */
  def fingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    val rendered = cols.map(c => coalesce(col(c).cast("string"), lit("\u0001")))
    val h = graft.functions.PortableHash.phash(concat_ws("\u0002", rendered: _*))
    df.select(h.as("__h"))
      .agg(count(lit(1)).as("n"),
        sum(col("__h").cast("decimal(38,0)")).as("hsum"),
        expr("bit_xor(__h)").as("hxor"))
  }

  /** Per-partition [[fingerprint]]s: one (partCols..., n, hsum, hxor)
    * row per partition key — the unit of selective re-sync. Comparing
    * two replicas row-by-row is O(corpus) network; comparing their
    * per-partition fingerprint tables is O(partitions), and only the
    * partitions that differ need a data-level diff ([[fingerprintDiff]]
    * — the rsync idea applied to tables). One map-side-combined
    * aggregation; output is partition-cardinality-sized. */
  def fingerprintBy(df: DataFrame, partCols: Seq[String],
                    cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    val rendered = cols.map(c => coalesce(col(c).cast("string"), lit("\u0001")))
    val h = graft.functions.PortableHash.phash(concat_ws("\u0002", rendered: _*))
    df.select(partCols.map(col) :+ h.as("__h"): _*)
      .groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__h").cast("decimal(38,0)")).as("hsum"),
        expr("bit_xor(__h)").as("hxor"))
  }

  /** Partitions where two replicas diverge, from their per-partition
    * fingerprints alone: `added` (only in `b`), `removed` (only in
    * `a`), `changed` (present in both, content differs as a multiset).
    * Identical partitions are omitted — the output IS the re-sync
    * work list. Cost: two partition-sized aggregations and one
    * partition-keyed join; no row-level data ever crosses. */
  def fingerprintDiff(a: DataFrame, b: DataFrame, partCols: Seq[String],
                      cols: Seq[String]): DataFrame = {
    val fa = fingerprintBy(a, partCols, cols)
      .withColumnsRenamed(Map("n" -> "__na", "hsum" -> "__sa", "hxor" -> "__xa"))
    val fb = fingerprintBy(b, partCols, cols)
      .withColumnsRenamed(Map("n" -> "__nb", "hsum" -> "__sb", "hxor" -> "__xb"))
    fa.join(fb, partCols, "full_outer")
      .withColumn("status",
        when(col("__na").isNull, lit("added"))
          .when(col("__nb").isNull, lit("removed"))
          .when(col("__na") =!= col("__nb") || col("__sa") =!= col("__sb") ||
            col("__xa") =!= col("__xb"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(partCols.map(col) :+ col("status"): _*)
  }

  /** Functional-dependency violation profile over candidate FDs — the
    * schema-discovery primitive (Huhtala et al.'s TANE g3 measure,
    * Comput.J 1999) a data-quality audit runs before trusting a column
    * as a key or a lookup: for each candidate `lhs → rhs`, how many lhs
    * groups map to >1 rhs value, and the minimum number of rows whose
    * removal would make the FD hold (g3 = Σ_group (rows − modal rhs
    * count)).
    *
    * Output per candidate: `fd` label, n_groups, violating_groups,
    * g3_rows, g3_ratio (6 dp), holds.
    *
    * Scale: each candidate is two map-side-combining aggregations over
    * DISTINCT (lhs, rhs) pairs — never a row-level shuffle of the table
    * beyond the first pair count; candidates union independently. */
  def fdViolations(df: DataFrame,
                   candidates: Seq[(Seq[String], String)]): DataFrame = {
    require(candidates.nonEmpty, "fdViolations: no candidates")
    candidates.map { case (lhs, rhs) =>
      val label = s"${lhs.mkString(",")} -> $rhs"
      val pairs = df.groupBy((lhs :+ rhs).map(col): _*)
        .agg(count(lit(1)).as("__c"))
      val perGroup = pairs.groupBy(lhs.map(col): _*)
        .agg(sum(col("__c")).as("__n"), max(col("__c")).as("__m"),
          count(lit(1)).as("__k"))
      perGroup.agg(
        lit(label).as("fd"),
        count(lit(1)).as("n_groups"),
        sum(when(col("__k") > 1, 1L).otherwise(0L)).as("violating_groups"),
        sum(col("__n") - col("__m")).as("g3_rows"),
        round(sum(col("__n") - col("__m")) / sum(col("__n")), 6).as("g3_ratio"),
        (sum(when(col("__k") > 1, 1L).otherwise(0L)) === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Per-group sample autocorrelation function r_1..r_maxLag — the
    * seasonality/self-similarity profile of a metric series (Box-Jenkins
    * identification): r_ℓ = Σ_{t≤n−ℓ} z_t·z_{t+ℓ} / Σ_t z_t², with z the
    * series standardized against its own mean (ACF is scale-invariant,
    * so standardizing changes nothing — but it bounds the micro-unit
    * integers that make the sums engine-exact). Mean/sd come from exact
    * decimal sums; z fixes to round(z·1e6) longs; numerator/denominator
    * sum those integer products in decimal(38,0) — no IEEE
    * summation-order dependence anywhere until the final division.
    * Constant series (sd = 0) yield null acf.
    *
    * Scale: the ℓ-shifted pairing is an equi-join on (group, t+ℓ) over
    * consecutive ranks — co-partitioned by group, n·maxLag pair rows;
    * meant for aggregated series, like [[theilSen]]/[[cusum]]. */
  def autocorrelation(df: DataFrame, groupCol: String, orderCol: String,
                      valueCol: String, maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 1, s"autocorrelation: maxLag=$maxLag must be >= 1")
    val pts = df.select(col(groupCol).as("__g"),
        col(orderCol).cast("double").as("__x"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__x").isNotNull && col("__v").isNotNull)
    val wAll = Window.partitionBy(col("__g"))
    val mean = col("__s") / col("__n")
    val varr = (col("__ss") - col("__s") * col("__s") / col("__n")) /
      (col("__n") - 1)
    val z = pts
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s",
        sum(col("__v").cast("decimal(28,6)")).over(wAll).cast("double"))
      .withColumn("__ss",
        sum((col("__v") * col("__v")).cast("decimal(38,12)")).over(wAll)
          .cast("double"))
      .withColumn("__zmu",
        when(col("__n") > 1 && greatest(varr, lit(0.0)) > 0,
          round((col("__v") - mean) / sqrt(greatest(varr, lit(0.0))) * 1e6, 0)
            .cast("long")))
      .withColumn("__t",
        row_number().over(Window.partitionBy(col("__g")).orderBy(col("__x"))))
      .select(col("__g"), col("__t"), col("__zmu"))
      // z feeds three consumers (denominator, both sides of the lag
      // join); persist the series-sized table so the standardization
      // windows run once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => z.unpersist())
    // cast BEFORE multiplying: micro z-scores are bounded (|z| <= sqrt n),
    // but long*long-then-widen is the overflow pattern this file bans
    val den = z.groupBy(col("__g"))
      .agg(sum(col("__zmu").cast("decimal(19,0)") * col("__zmu")).as("__den"))
    val a = z.select(col("__g"), col("__zmu").as("__za"),
        explode(sequence(lit(1L), lit(maxLag.toLong))).as("lag"),
        col("__t"))
      .withColumn("__t2", col("__t") + col("lag"))
    val b = z.select(col("__g"), col("__t").as("__t2"), col("__zmu").as("__zb"))
    a.join(b, Seq("__g", "__t2"))
      .groupBy(col("__g"), col("lag"))
      .agg(sum(col("__za").cast("decimal(19,0)") * col("__zb")).as("__num"),
        count(lit(1)).as("n_pairs"))
      .join(den, Seq("__g"))
      .select(col("__g").as(groupCol), col("lag"), col("n_pairs"),
        when(col("__den") > 0,
          round(col("__num").cast("double") / col("__den").cast("double"), 6))
          .as("acf"))
  }

  /** Per-group Gini coefficient over non-negative values — the
    * concentration audit (how unequal is value/traffic/revenue across
    * members of the group) via the rank identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) with x ascending: 0 =
    * perfectly even, →1 = one member holds everything. Tie order is
    * immaterial (equal x redistributes the same mass over the tied
    * ranks), so row_number needs no tie-break column.
    *
    * Values fix to micro-unit longs; both sums are exact decimals; the
    * single division happens on the exact integer numerator/denominator
    * at the edge, rounded 6 dp. All-zero groups yield null gini.
    *
    * Scale: one rank window + one aggregation, both partitioned by the
    * group key — one exchange; meant for per-entity aggregates (a
    * members-per-group-sized table, not raw events). */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__xm", round(col("__v") * 1e6, 0).cast("long"))
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("__g")).orderBy(col("__xm"))))
    val agg = pts.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__xm").cast("decimal(38,0)")).as("__s0"),
        sum(col("__rk").cast("decimal(19,0)") * col("__xm")).as("__s1"))
    val num = lit(2).cast("decimal(38,0)") * col("__s1") -
      (col("n") + 1).cast("decimal(38,0)") * col("__s0")
    val den = col("n").cast("decimal(38,0)") * col("__s0")
    agg.select(col("__g").as(groupCol), col("n"),
      round(col("__s0").cast("double") / 1e6, 6).as("total"),
      when(col("__s0") > 0,
        round(num.cast("double") / den.cast("double"), 6)).as("gini"))
  }

  /** One-pass column profile — the automatic dataset summary every
    * engine ships (DESCRIBE/summary on steroids): per column, row/null/
    * distinct counts plus numeric min/max or string length bounds.
    *
    * ONE aggregation pass produces every statistic (the per-column
    * exact distincts share the single Expand-based aggregate); the
    * long-format unpivot afterwards runs on the 1-row result, so
    * profiling k columns costs one scan, not k. For lake-scale
    * profiling where exact distincts don't matter, flip
    * `approxDistinct` — approx_count_distinct drops the Expand and
    * keeps the whole pass sketch-sized (but is not oracle-replayable).
    */
  def profile(df: DataFrame, columns: Seq[String],
              approxDistinct: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "profile: no columns")
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    def isNum(c: String) = types.get(c).exists {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    def isStr(c: String) =
      types.get(c).contains(org.apache.spark.sql.types.StringType)
    val aggs = count(lit(1)).as("__n") +: columns.flatMap { c =>
      val base = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        (if (approxDistinct) approx_count_distinct(col(c))
         else countDistinct(col(c))).as(s"__dist_$c"))
      val extremes =
        if (isNum(c)) Seq(
          min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c"),
          lit(null).cast("long").as(s"__minl_$c"),
          lit(null).cast("long").as(s"__maxl_$c"))
        else if (isStr(c)) Seq(
          lit(null).cast("double").as(s"__min_$c"),
          lit(null).cast("double").as(s"__max_$c"),
          min(length(col(c))).cast("long").as(s"__minl_$c"),
          max(length(col(c))).cast("long").as(s"__maxl_$c"))
        else Seq(
          lit(null).cast("double").as(s"__min_$c"),
          lit(null).cast("double").as(s"__max_$c"),
          lit(null).cast("long").as(s"__minl_$c"),
          lit(null).cast("long").as(s"__maxl_$c"))
      base ++ extremes
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    columns.map { c =>
      wide.select(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        col(s"__null_$c").as("n_null"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_num"),
        col(s"__max_$c").as("max_num"),
        col(s"__minl_$c").as("min_len"),
        col(s"__maxl_$c").as("max_len"))
    }.reduce(_ unionByName _)
  }

  /** Per-group weighted (lower) median: the smallest value whose
    * cumulative weight reaches half the group's total — the robust
    * center when observations carry unequal mass (price weighted by
    * volume, latency weighted by request count). Weights fix to
    * micro-unit longs, the half-total comparison is exact integer
    * arithmetic (2·cum ≥ total), and equal-value tie blocks select the
    * same value under any tie order, so the result is deterministic
    * everywhere.
    *
    * Scale: one value-ordered cumulative window + one aggregation, both
    * partitioned by the group key — one exchange. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("double").as("__w"))
      .filter(col("__v").isNotNull && col("__w").isNotNull && col("__w") > 0)
      .withColumn("__wm", round(col("__w") * 1e6, 0).cast("long"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("__g"))
    pts
      .withColumn("__cum", sum(col("__wm")).over(wCum))
      .withColumn("__tot", sum(col("__wm")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__n")).as("n"),
        round(max(col("__tot")).cast("double") / 1e6, 6).as("total_weight"),
        min(col("__v")).as("wmedian"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns in ONE
    * aggregation pass — [[profile]]'s companion: k columns = k(k−1)/2
    * upper-triangle pairs, every pair's five moment sums computed in
    * the same single scan (not one job per pair). Each pair uses only
    * rows where BOTH sides are non-null (pairwise deletion).
    *
    * Moments are exact decimal sums; each ρ is one fixed-shape double
    * expression over them, rounded 6 dp. Constant columns yield null. */
  def corrMatrix(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.size >= 2, "corrMatrix: need at least 2 columns")
    require(columns.distinct.size == columns.size, "corrMatrix: dup column")
    val pairs = for {
      i <- columns.indices; j <- (i + 1) until columns.size
    } yield (columns(i), columns(j))
    def dec(c: Column) = c.cast("decimal(38,12)")
    val exprs = pairs.zipWithIndex.flatMap { case ((a, b), p) =>
      val x = col(a).cast("double")
      val y = col(b).cast("double")
      val both = x.isNotNull && y.isNotNull
      Seq(
        sum(when(both, 1L).otherwise(0L)).as(s"__n_$p"),
        sum(when(both, dec(x))).as(s"__sx_$p"),
        sum(when(both, dec(y))).as(s"__sy_$p"),
        sum(when(both, dec(x * x))).as(s"__sxx_$p"),
        sum(when(both, dec(y * y))).as(s"__syy_$p"),
        sum(when(both, dec(x * y))).as(s"__sxy_$p"))
    }
    // NOTE (r16, measured): do NOT materialize this 1-row aggregate to
    // share it across the per-pair union branches. Each branch's select
    // prunes the aggregate to ITS pair's 6 sums, so the per-branch
    // aggregations stay small and codegen-friendly; checkpointing the
    // full 36-aggregate pass instead measured q211 3.5 -> 10.3 s at
    // sf0.1 (one giant aggregate loses to six pruned ones).
    val wide = df.agg(exprs.head, exprs.tail: _*)
    pairs.zipWithIndex.map { case ((a, b), p) =>
      val n = col(s"__n_$p").cast("double")
      val sx = col(s"__sx_$p").cast("double")
      val sy = col(s"__sy_$p").cast("double")
      val covn = n * col(s"__sxy_$p").cast("double") - sx * sy
      val vx = n * col(s"__sxx_$p").cast("double") - sx * sx
      val vy = n * col(s"__syy_$p").cast("double") - sy * sy
      wide.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"__n_$p").as("n"),
        when(vx > 0 && vy > 0, round(covn / sqrt(vx * vy), 6)).as("corr"))
    }.reduce(_ unionByName _)
  }

  /** Per-group two-sided CUSUM changepoint detection (Page 1954): the
    * control chart a metrics pipeline runs per series to catch a mean
    * SHIFT that per-point outlier tests miss (each point looks normal;
    * the drift accumulates). The textbook recursion
    * S⁺_t = max(0, S⁺_{t-1} + z_t − k) is re-expressed as pure window
    * algebra via the prefix-sum identity S⁺_t = P_t − min(0, min_{j≤t} P_j)
    * with P_t = Σ(z_i − k) — one running sum + one running min per side,
    * no recursion, no UDF, engine-portable.
    *
    * z standardizes against the WHOLE series (mean/sd from exact decimal
    * sums, one IEEE division/sqrt at the end) and is then fixed to
    * micro-units (round(z·1e6) as long), so every prefix sum is exact
    * integer arithmetic — identical in any engine regardless of IEEE
    * summation order. Constant series (sd = 0) standardize to z = 0:
    * no alarms, maxima 0.
    *
    * Output per group: max S⁺/S⁻ (in σ units, 6 dp) and the first
    * `orderCol` value where each side crossed `threshold` (null = never).
    * `slack` k is the classic half-shift allowance (default 0.5σ,
    * tuned for detecting ~1σ shifts); `threshold` h≈4-5σ trades ARL
    * against detection delay.
    *
    * Scale: meant for AGGREGATED series (a metric per day per source) —
    * every window partitions by group, so cost is bounded by the longest
    * series, not the corpus. */
  /** Score each probe row against a REFERENCE distribution: `ref_pct` =
    * (# reference values <= probe value) / |reference| — the per-row
    * percentile a feature store stamps on serving data to catch drift
    * (a feature whose scores pile up at 0.99 has left its training
    * distribution; PSI (q169) sees it per-bin, this sees it per-row).
    *
    * Topology: tag-union both sides, one INCLUSIVE prefix sum of the
    * reference indicator in (value, ref-first) order via the bucketed
    * [[Ranking.globalPrefixSum]] — ref rows sort before probe rows at
    * equal values, so ties count as <=. No join against the reference,
    * no per-row subquery: one union-sized exchange at any scale. */
  def refPercentile(ref: DataFrame, probe: DataFrame, probeKeyCol: String,
                    valueCol: String, outCol: String = "ref_pct"): DataFrame = {
    val r = ref.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    // the probe key rides through UNCAST in its own type (a string key
    // under ANSI would otherwise fail — or silently null — at a long cast)
    val keyType = probe.schema(probeKeyCol).dataType
    val tagged = r
      .select(col("__v"), lit(1L).as("__isref"),
        lit(null).cast(keyType).as("__k"))
      .unionByName(probe
        .select(col(valueCol).cast("double").as("__v"), lit(0L).as("__isref"),
          col(probeKeyCol).as("__k"))
        .filter(col("__v").isNotNull))
      .withColumn("__negr", -col("__isref"))
    // equal-width value buckets from a 1-row bounds probe — the monotone
    // coarse prefix globalPrefixSum requires; degenerate domains -> 0
    val b = tagged.agg(min(col("__v")).as("mn"), max(col("__v")).as("mx")).head()
    val (mn, mx) = (b.getDouble(0), b.getDouble(1))
    val bucket =
      if (mx > mn)
        least(floor((col("__v") - lit(mn)) / lit(mx - mn) * 1024), lit(1023.0))
      else lit(0.0)
    val refN = r.count()
    require(refN > 0, "refPercentile: empty reference distribution")
    Ranking.globalPrefixSum(tagged, Seq("__v", "__negr", "__k"),
        bucketExpr = bucket, valueCol = "__isref", outCol = "__cum")
      .filter(col("__isref") === 0)
      .select(col("__k").as(probeKeyCol), col("__v").as(valueCol),
        round(col("__cum") / lit(refN.toDouble), 6).as(outCol))
  }

  /** Welch's unequal-variance two-sample t-test per group: `condCol`
    * (boolean) splits each group into cohorts A (true) / B (false);
    * output is the t statistic (micro-rounded) and the Welch-
    * Satterthwaite degrees of freedom (6 dp). Moments are exact decimal
    * sums cast to double once (the q199 idiom), so the statistic
    * replays bit-for-bit in any IEEE engine; no p-value on purpose —
    * the normal/t CDF needs erf, which plain SQL lacks, and the
    * t-vs-critical comparison belongs to the caller's alpha anyway.
    * One aggregation per group pair of cohorts; nothing driver-side. */
  def welchTTest(df: DataFrame, groupCol: String, condCol: String,
                 valueCol: String): DataFrame = {
    val pts = df.select(col(groupCol).as("__g"),
        col(condCol).cast("boolean").as("__c"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__c").isNotNull && col("__v").isNotNull)
    def side(flag: Boolean, c: Column) = sum(when(col("__c") === flag, c))
    val agg = pts.groupBy(col("__g")).agg(
      side(true, lit(1L)).as("__na"),
      side(true, col("__v").cast("decimal(28,6)")).cast("double").as("__sa"),
      side(true, (col("__v") * col("__v")).cast("decimal(38,12)"))
        .cast("double").as("__ssa"),
      side(false, lit(1L)).as("__nb"),
      side(false, col("__v").cast("decimal(28,6)")).cast("double").as("__sb"),
      side(false, (col("__v") * col("__v")).cast("decimal(38,12)"))
        .cast("double").as("__ssb"))
    val va = (col("__ssa") - col("__sa") * col("__sa") / col("__na")) /
      (col("__na") - 1) / col("__na")
    val vb = (col("__ssb") - col("__sb") * col("__sb") / col("__nb")) /
      (col("__nb") - 1) / col("__nb")
    agg.filter(col("__na") > 1 && col("__nb") > 1)
      .withColumn("__va", va).withColumn("__vb", vb)
      .filter(col("__va") + col("__vb") > 0)
      .select(col("__g").as(groupCol),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        round((col("__sa") / col("__na") - col("__sb") / col("__nb")) /
          sqrt(col("__va") + col("__vb")) * 1e6, 0).cast("long")
          .as("t_micro"),
        // explicit x*x, not pow(x, 2): libm pow is not guaranteed
        // correctly rounded, multiplication is
        round((col("__va") + col("__vb")) * (col("__va") + col("__vb")) /
          (col("__va") * col("__va") / (col("__na") - 1) +
            col("__vb") * col("__vb") / (col("__nb") - 1)), 6).as("df_w"))
  }

  /** Standard normal CDF via the Zelen & Severo polynomial (Abramowitz &
    * Stegun 26.2.17, |error| < 7.5e-8) — a PORTABLE approximation both a
    * JVM engine and any SQL engine evaluate with the identical finite
    * expression tree (multiply/add/divide plus one exp), where a true
    * erf would be libm-bound and non-replayable. Intended for p-values
    * feeding RANK-based procedures (the polynomial is strictly monotone,
    * so orderings are exact even where the 8th decimal is not); callers
    * must round before any equality-sensitive use. Input z should be
    * pre-rounded by the caller so engines agree on the argument bits. */
  def normalCdf(z: Column): Column = {
    val x = abs(z)
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = ((((lit(1.330274429) * k - lit(1.821255978)) * k
      + lit(1.781477937)) * k - lit(0.356563782)) * k + lit(0.319381530)) * k
    val phi = exp(-x * x / lit(2.0)) / lit(2.5066282746310002) // sqrt(2*pi)
    val upper = lit(1.0) - phi * poly
    when(z >= 0, upper).otherwise(lit(1.0) - upper)
  }

  /** Benjamini–Hochberg FDR control (Benjamini & Hochberg 1995) over a
    * table of per-hypothesis p-values: rank p ascending (key tiebreak),
    * a hypothesis passes at rank i when p_(i) <= i·alpha/m, and ALL
    * hypotheses up to the LARGEST passing rank are discoveries (the
    * step-up rule — a non-passing p below a later passing one is still
    * rejected). The multiple-testing gate every per-segment A/B scan
    * needs before paging on its best-looking segment.
    *
    * Appends (rank, bh_thresh, discovery). Thresholds round to 9 dp so
    * a last-ulp division difference cannot flip a boundary comparison;
    * `pCol` should arrive pre-rounded for the same reason.
    *
    * Scale: the input is the HYPOTHESES table (one row per test —
    * metadata-sized by construction; the data-sized work already
    * happened in the test statistics), so the single-partition rank
    * window is over m rows, the same deliberate tiny-table pattern as
    * temperatureSample's rate table. */
  def bhFdr(tests: DataFrame, keyCol: String, pCol: String,
            alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bhFdr: alpha=$alpha outside (0,1)")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy(col(pCol), col(keyCol))
    val wAll = Window.partitionBy()
    tests
      .withColumn("rank", row_number().over(wOrd).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("bh_thresh",
        round(col("rank") * lit(alpha) / col("__m"), 9))
      .withColumn("__kmax",
        max(when(col(pCol) <= col("bh_thresh"), col("rank"))).over(wAll))
      .withColumn("discovery",
        coalesce(col("rank") <= col("__kmax"), lit(false)))
      .drop("__m", "__kmax")
  }

  def cusum(df: DataFrame, groupCol: String, orderCol: String, valueCol: String,
            slack: Double = 0.5, threshold: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kMu = math.round(slack * 1e6)
    val hMu = math.round(threshold * 1e6)
    val pts = df.select(col(groupCol).as("__g"),
        col(orderCol).cast("double").as("__x"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__x").isNotNull && col("__v").isNotNull)
    val wAll = Window.partitionBy(col("__g"))
    val wRun = Window.partitionBy(col("__g")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mean = col("__s") / col("__n")
    val varr = (col("__ss") - col("__s") * col("__s") / col("__n")) /
      (col("__n") - 1)
    val z = pts
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s",
        sum(col("__v").cast("decimal(28,6)")).over(wAll).cast("double"))
      .withColumn("__ss",
        sum((col("__v") * col("__v")).cast("decimal(38,12)")).over(wAll)
          .cast("double"))
      .withColumn("__zmu",
        when(col("__n") > 1 && greatest(varr, lit(0.0)) > 0,
          round((col("__v") - mean) / sqrt(greatest(varr, lit(0.0))) * 1e6, 0)
            .cast("long"))
          .otherwise(lit(0L)))
    z.withColumn("__pu", sum(col("__zmu") - kMu).over(wRun))
      .withColumn("__pd", sum(-col("__zmu") - kMu).over(wRun))
      .withColumn("__sp", col("__pu") - least(min(col("__pu")).over(wRun), lit(0L)))
      .withColumn("__sn", col("__pd") - least(min(col("__pd")).over(wRun), lit(0L)))
      .groupBy(col("__g").as(groupCol))
      .agg(round(max(col("__sp")) / 1e6, 6).as("max_s_pos"),
        round(max(col("__sn")) / 1e6, 6).as("max_s_neg"),
        min(when(col("__sp") > hMu, col("__x"))).as("first_up_x"),
        min(when(col("__sn") > hMu, col("__x"))).as("first_down_x"))
  }

  /** Per-group Theil-Sen robust trend: the median of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i), x_i < x_j, within each group — the trend
    * estimator a metrics time series needs when single-day outliers
    * would hijack OLS (Theil 1950 / Sen 1968; 29% breakdown point).
    * Meant for AGGREGATED series (a metric per day per source), where
    * the per-group pair surface is days², not rows² — `maxPoints` fails
    * fast otherwise.
    *
    * Determinism: slopes round to 6 dp BEFORE ranking; the median is the
    * mean of the (⌈n/2⌉, ⌊n/2⌋+1) order statistics by explicit rank
    * selection — the same fixed-shape arithmetic in any engine, no
    * engine-specific quantile interpolation.
    *
    * Scale: the pair join is an EQUI join on the group key (the x < x'
    * bound is a post-join filter on co-located rows, never a cartesian);
    * ranking windows partition by group over ≤ maxPoints²/2 slope rows. */
  def theilSen(df: DataFrame, groupCol: String, xCol: String, yCol: String,
               maxPoints: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(groupCol).as("__g"),
        col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val biggest = pts.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head().getLong(0)
    require(biggest <= maxPoints,
      s"theilSen: a group has $biggest points (> maxPoints=$maxPoints) — " +
        "aggregate the series first")
    val r = pts.select(col("__g"), col("__x").as("__x2"), col("__y").as("__y2"))
    val slopes = pts.join(r, Seq("__g"))
      .filter(col("__x") < col("__x2"))
      .select(col("__g"),
        round((col("__y2") - col("__y")) / (col("__x2") - col("__x")), 6)
          .as("__s"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__s"))
    slopes
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__rn") === (col("__cnt") + 1) / 2 ||
        col("__rn") === col("__cnt") / 2 + 1)
      .groupBy(col("__g").as(groupCol))
      .agg(round(avg(col("__s")), 6).as("slope"),
        max(col("__cnt")).as("n_pairs"))
  }

  /** Exact Kendall tau-b over a (typically heavily tied) ordinal pair —
    * the concordance companion to [[spearman]]: rank-magnitude-free, so
    * a single wild outlier cannot move it, and the tie correction
    * (tau-b) keeps it honest on discrete domains. Computed on the
    * CONTINGENCY TABLE, never row pairs: with cell counts o, concordant
    * C = Σ over ordered cell pairs (a↑, b↑) of o_i·o_j and discordant D
    * the (a↑, b↓) sum, so cost is |cells|² — bounded by the product of
    * the two DOMAINS (guarded by `maxCells`), independent of row count;
    * the naive definition is n² row pairs. Tie terms come from the
    * marginals: tau_b = (C−D) / √((n0−n1)(n0−n2)), n0 = n(n−1)/2,
    * n1 = Σ_a t(t−1)/2, n2 = Σ_b t(t−1)/2 (Kendall 1945 tie treatment).
    *
    * Determinism: C, D, n0, n1, n2 are exact integers (counts widened to
    * decimal(38) before multiplying); tau is ONE fixed-shape double
    * expression over them, rounded to 6 dp — a SQL oracle replays it
    * bit-for-bit. Scale: one map-side-combined cell aggregation over
    * the data, then a broadcast self-join of the ≤`maxCells`-row cell
    * table; the data is scanned once. */
  def kendallTau(df: DataFrame, aCol: String, bCol: String,
                 maxCells: Int = 100000): DataFrame = {
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("double").as("__a"), col(bCol).cast("double").as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__o"))
    // fail fast on a continuous column (cells² would explode): the limit
    // stops the count at the bound — cell-table-scale action, not data
    require(cells.limit(maxCells + 1).count() <= maxCells,
      s"kendallTau: contingency table exceeds $maxCells cells — bin first")
    val rhs = cells.select(col("__a").as("__a2"), col("__b").as("__b2"),
      col("__o").as("__o2"))
    val pairs = cells.join(broadcast(rhs), col("__a") < col("__a2"))
    val cd = pairs.agg(
      sum(when(col("__b") < col("__b2"), wide(col("__o")) * col("__o2"))).as("__c"),
      sum(when(col("__b") > col("__b2"), wide(col("__o")) * col("__o2"))).as("__d"))
    def tieSum(keyCol: String, out: String): DataFrame =
      cells.groupBy(col(keyCol)).agg(sum(col("__o")).as("__t"))
        .agg((sum(wide(col("__t")) * col("__t") - col("__t")) / 2).as(out))
    val totals = cells.agg(sum(col("__o")).as("n"))
      .select(col("n"), (wide(col("n")) * (col("n") - 1) / 2).as("__n0"))
    totals
      .crossJoin(broadcast(cd))
      .crossJoin(broadcast(tieSum("__a", "__n1")))
      .crossJoin(broadcast(tieSum("__b", "__n2")))
      .select(col("n"),
        coalesce(col("__c"), lit(0)).cast("decimal(38,0)").as("conc"),
        coalesce(col("__d"), lit(0)).cast("decimal(38,0)").as("disc"),
        when((col("__n0") > col("__n1")) && (col("__n0") > col("__n2")),
          round((coalesce(col("__c"), lit(0)) - coalesce(col("__d"), lit(0)))
              .cast("double") /
            sqrt((col("__n0") - col("__n1")).cast("double") *
              (col("__n0") - col("__n2")).cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("tau_b"))
  }

  /** Benford first-significant-digit audit of a positive numeric
    * column: observed counts per leading digit vs the Benford
    * expectation p_d = log10(1 + 1/d), with the χ² distance. The
    * classic fabricated-data / synthetic-corpus smell test. The leading
    * digit comes from the INTEGER part's decimal render (values < 1 are
    * excluded along with nulls and non-positives — their leading
    * significant digit would need a scale hunt that a SQL oracle can't
    * replay cheaply). p_d enters BOTH engines as the same Scala-
    * computed literal; per-digit χ² terms round to micro-units before
    * the order-free integer total (the q137/q169 idiom). */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val observed = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    // densify to the FIXED 1..9 domain: a digit with zero observed
    // count still contributes its full expected mass E_d = p_d·n to
    // chi-square — exactly the term that indicts the degenerate /
    // fabricated distributions this audit targets
    val digits = df.sparkSession.range(1, 10).select(col("id").as("digit"))
      .join(broadcast(observed), Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val wAll = Window.partitionBy()
    val expectedFrac: Map[Int, Double] =
      (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val pd = (1 to 9).map(d =>
      when(col("digit") === d, lit(expectedFrac(d)))).reduceRight(_ otherwise _)
    digits
      .withColumn("__n", sum(col("n_obs")).over(wAll))
      .withColumn("__exp", pd * col("__n"))
      .withColumn("chi2_term_micro",
        when(col("__n") > 0,
          round((col("n_obs") - col("__exp")) * (col("n_obs") - col("__exp"))
            / col("__exp") * lit(1e6), 0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("chi2_micro", sum(col("chi2_term_micro")).over(wAll))
      .select("digit", "n_obs", "chi2_term_micro", "chi2_micro")
  }

  /** χ² test of independence between two categorical columns, plus
    * Cramér's V — the association audit that catches a leaking
    * quasi-identifier (a "random" shard key correlated with geography,
    * a label correlated with source) before it skews a split or a
    * privacy argument. Expected cell counts E = rowTotal·colTotal/n are
    * exact integer ratios; per-cell χ² terms quantize to micro-units
    * before the order-free integer total; V = sqrt(χ²/(n·min(r−1,c−1)))
    * from the micro total, so everything replays externally.
    *
    * Scale: one (a,b) cell aggregation (map-side combined, contingency-
    * sized), marginals as two more aggregations of the CELL table, all
    * joined back cell-keyed; output is one row. */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"), col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowT = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colT = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__r"), countDistinct(col("__b")).as("__c"))
    val scored = cells
      .join(rowT, Seq("__a")).join(colT, Seq("__b"))
      .crossJoin(broadcast(tot))
      .withColumn("__e",
        // widen BEFORE multiplying — ra·cb at 1e12-row marginals is
        // ~1e24, past any 64-bit product (non-ANSI wrap otherwise)
        (col("__ra").cast("decimal(38,0)") * col("__cb")).cast("double")
          / col("__n"))
      .withColumn("__t",
        round((col("__o") - col("__e")) * (col("__o") - col("__e"))
          / col("__e") * lit(1e6), 0).cast("long"))
    // absent cells (o = 0) contribute E·1e6 each: add them in closed
    // form — Σ_all E = n, and Σ_present E comes from the EXACT integer
    // sum of ra·cb (decimal) with ONE division, so no FP summation
    // order can shift the correction
    scored.agg(
        sum(col("__t")).as("__tp"),
        sum(col("__ra").cast("decimal(38,0)") * col("__cb")).as("__sprod"),
        max(col("__n")).as("n"), max(col("__r")).as("__r"), max(col("__c")).as("__c"))
      .withColumn("__ep",
        round(col("__sprod").cast("double") * lit(1e6) / col("n"), 0).cast("long"))
      .withColumn("chi2_micro",
        col("__tp") + (col("n") * lit(1000000L) - col("__ep")))
      .withColumn("dof", (col("__r") - 1) * (col("__c") - 1))
      .withColumn("cramers_v",
        when(col("dof") > 0, round(sqrt(col("chi2_micro").cast("double") / lit(1e6)
          / (col("n") * least(col("__r") - 1, col("__c") - 1))), 6))
          .otherwise(lit(null).cast("double")))
      .select("n", "dof", "chi2_micro", "cramers_v")
  }

  /** Mutual information between two categorical columns, with the
    * marginal entropies and the uncertainty coefficients — the
    * association audit [[chiSquareIndependence]]'s χ² cannot replace
    * when the QUESTION is "how many bits of A does B leak" (a shard key
    * leaking geography, a pseudonym leaking the rare label): χ² scores
    * deviation-from-independence, MI scores the information itself, and
    * U(A|B) = MI/H(A) normalizes it to [0,1].
    *
    * Determinism (the q137/q180 idiom): every logarithm runs over an
    * INTEGER — MI cell terms use mn(o·n) − mn(ra·cb) with the products
    * widened to decimal(38) BEFORE multiplying, entropy terms mn(n) −
    * mn(ra) — probabilities are exact integer ratios in one IEEE
    * division each, per-cell terms round to micro-nats before the
    * order-free integer totals, and the U coefficients are fixed-shape
    * double expressions over the micro totals (6 dp).
    *
    * Scale: one cell aggregation (map-side combined, contingency-
    * sized), marginals as aggregations OF THE CELL TABLE, cell-keyed
    * joins, 1-row output — the q180 topology exactly. Absent cells
    * (o = 0) contribute 0 to MI by the 0·ln 0 = 0 convention, so no
    * densify pass is needed. */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    def mn(c: Column): Column = round(log(c.cast("double")) * lit(1e6), 0).cast("long")
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"), col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowT = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colT = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val tot = cells.agg(sum(col("__o")).as("__n"))
    val terms = cells
      .join(rowT, Seq("__a")).join(colT, Seq("__b"))
      .crossJoin(broadcast(tot))
      .withColumn("__mi_t",
        round((col("__o").cast("double") / col("__n"))
          * (mn(wide(col("__o")) * col("__n")) - mn(wide(col("__ra")) * col("__cb")))
            .cast("double"), 0).cast("long"))
    val mi = terms.agg(sum(col("__mi_t")).as("mi_micro"), max(col("__n")).as("n"))
    def entropyMicro(marg: DataFrame, cnt: String): DataFrame =
      marg.crossJoin(broadcast(tot))
        .select(round((col(cnt).cast("double") / col("__n"))
          * (mn(col("__n")) - mn(col(cnt))).cast("double"), 0).cast("long").as("__t"))
        .agg(sum(col("__t")).as("__h"))
    val ha = entropyMicro(rowT, "__ra").withColumnRenamed("__h", "h_a_micro")
    val hb = entropyMicro(colT, "__cb").withColumnRenamed("__h", "h_b_micro")
    val u = (miC: Column, h: Column) =>
      when(h > 0, round(miC.cast("double") / h.cast("double"), 6))
        .otherwise(lit(null).cast("double"))
    mi.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), col("mi_micro"), col("h_a_micro"), col("h_b_micro"),
        u(col("mi_micro"), col("h_a_micro")).as("u_a"),
        u(col("mi_micro"), col("h_b_micro")).as("u_b"))
  }

  /** Population Stability Index between two snapshots of a numeric
    * column — the standard drift gate between a training corpus and a
    * fresh crawl (PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 retrain).
    * Equal-width bins over the GLOBAL [min, max] of both sides;
    * PSI = Σ_bins (pA − pB)·ln(pA/pB) with Laplace-style smoothing
    * p = (2c+1)/(2n+nBins) so an empty-on-one-side bin contributes a
    * finite term instead of ±∞.
    *
    * Output: one row per occupied bin — (bin, count_a, count_b,
    * term_micro) — plus the total `psi_micro` repeated on every row.
    * Determinism contract (the q137 idiom): every ln runs over an
    * INTEGER count and is rounded to micro-nats before use, the
    * probabilities are exact integer ratios evaluated in one IEEE
    * division each, and the per-bin terms become micro-unit longs
    * BEFORE the total sums them — so the result replays bit-for-bit in
    * an external engine and is independent of partial-agg order.
    *
    * Scale: one union scan + one 1-row bounds agg broadcast back + one
    * bin-keyed aggregation; the windows run over the ≤ nBins-row counts
    * table, never over the data. */
  def psiDrift(a: DataFrame, b: DataFrame, valueCol: String,
               nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val u = a.select(col(valueCol).cast("double").as("__v"))
      .withColumn("__side", lit(0))
      .unionAll(b.select(col(valueCol).cast("double").as("__v"))
        .withColumn("__side", lit(1)))
    val bounds = u.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(nBins.toDouble)
    val counts = u.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(width > 0,
          least(floor((col("__v") - col("__mn")) / width), lit(nBins - 1L)))
          .otherwise(lit(0L)).cast("long"))
      .groupBy(col("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("count_a"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("count_b"))
    psiTermsFromCounts(counts, nBins)
  }

  /** Smoothed micro-unit PSI terms over an already-binned
    * (bin, count_a, count_b) table — the arithmetic core shared by the
    * numeric [[psiDrift]] and [[Similarity.embeddingDrift]]'s cell
    * occupancy. Same determinism contract as psiDrift; the windows run
    * over the ≤ nBins-row counts table. */
  private[ops] def psiTermsFromCounts(counts: DataFrame, nBins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // micro-nat ln of an integer-valued column
    def mn(c: Column): Column = round(log(c.cast("double")) * lit(1e6), 0).cast("long")
    val wAll = Window.partitionBy()
    val withTotals = counts
      .withColumn("__na", sum(col("count_a")).over(wAll))
      .withColumn("__nb", sum(col("count_b")).over(wAll))
    val ca = col("count_a") * 2 + 1
    val cb = col("count_b") * 2 + 1
    val da = col("__na") * 2 + nBins.toLong
    val db = col("__nb") * 2 + nBins.toLong
    withTotals
      .withColumn("__lnr", mn(ca) - mn(cb) - mn(da) + mn(db))
      .withColumn("term_micro",
        round((ca.cast("double") / da.cast("double")
          - cb.cast("double") / db.cast("double"))
          * col("__lnr").cast("double"), 0).cast("long"))
      .withColumn("psi_micro", sum(col("term_micro")).over(wAll))
      .select("bin", "count_a", "count_b", "term_micro", "psi_micro")
  }

  /** Pareto cut: members ranked by mass with cumulative share and an
    * in_head flag for the prefix that covers `target` of the total —
    * "which 4 of the 20 sources are 80% of the corpus", the
    * prioritization readout next to [[hhi]]'s one-number concentration.
    * The crossing member is INCLUDED (the head is the minimal prefix
    * reaching the target).
    *
    * Determinism: masses fix to micro-unit decimals; rank order is the
    * total (mass desc, member asc); the head test compares exact
    * decimals cross-multiplied against the target's basis points —
    * no double share ever decides membership. Shares are display-only
    * doubles rounded 6 dp.
    *
    * Scale: one data aggregation to |members| rows; the rank/cumsum
    * windows run over that table (members are a curated dimension —
    * sources, shards, tenants — not data-sized). */
  def paretoCut(df: DataFrame, memberCol: String, valueCol: String,
                target: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(target > 0 && target < 1, s"paretoCut: target=$target outside (0,1)")
    val bp = math.round(target * 10000)
    val members = df.select(col(memberCol).as("__m"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__m"))
      .agg(sum(round(col("__v") * 1e6, 0).cast("decimal(38,0)")).as("__mass"))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(col("__mass").desc, col("__m"))
      .rowsBetween(Window.unboundedPreceding, 0)
    members
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__mass").desc, col("__m")))
          .cast("long"))
      .withColumn("__tot", sum(col("__mass")).over(wAll))
      .withColumn("__cum", sum(col("__mass")).over(wCum))
      .select(col("rank"), col("__m").as(memberCol),
        round(col("__mass").cast("double") / 1e6, 6).as("mass"),
        // guard wraps the division (ANSI raises on double/0 too): a
        // zero total mass — every member 0, or signed masses canceling
        // — yields null shares, not a crash
        when(col("__tot") =!= 0,
          round(col("__mass").cast("double") / col("__tot").cast("double"), 6))
          .as("share"),
        when(col("__tot") =!= 0,
          round(col("__cum").cast("double") / col("__tot").cast("double"), 6))
          .as("cum_share"),
        // head = rows whose PREDECESSOR cumulative hadn't reached the
        // target: (cum - mass) * 10000 < tot * bp, exact decimals
        ((col("__cum") - col("__mass")) * 10000 < col("__tot") * bp)
          .as("in_head"))
  }

  /** Herfindahl-Hirschman concentration of a mass column over the
    * members of each group: Σ share² ∈ (1/n, 1] — 1/n = perfectly even,
    * 1 = one member holds everything; the antitrust-style "how
    * concentrated is this corpus on its top sources" number, and
    * [[gini]]'s square-law sibling (HHI weights the HEAD harder, so a
    * single mega-source moves it where gini barely shifts).
    *
    * Exact integer core: member masses fix to micro-units, Σm² and
    * (Σm)² are decimal(38) products (micro-mass² at 1e12 rows is far
    * past 64 bits), HHI = Σm²/(Σm)² is one double division rounded
    * 6 dp. Also emits the effective member count 1/HHI. Two map-side-
    * combining aggregations (member, then group). */
  def hhi(df: DataFrame, groupCol: String, memberCol: String,
          valueCol: String): DataFrame = {
    val members = df.select(col(groupCol).as("__g"), col(memberCol).as("__m"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__g"), col("__m"))
      .agg(sum(round(col("__v") * 1e6, 0).cast("decimal(38,0)")).as("__mass"))
    val agg = members.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("__mass")).as("__tot"),
        sum(col("__mass") * col("__mass")).as("__sq"))
    val hhiCol = col("__sq").cast("double") /
      (col("__tot") * col("__tot")).cast("double")
    agg.select(col("__g").as(groupCol), col("n_members"),
      when(col("__tot") > 0, round(hhiCol, 6)).as("hhi"),
      when(col("__tot") > 0, round(lit(1.0) / hhiCol, 6)).as("effective_n"))
  }

  /** Schema profile of a semi-structured JSON column: one row per key
    * with presence count, null count, distinct values, and a
    * string-shape type census (int / float / bool / other) — the
    * "what's actually in props" audit that decides whether a
    * semi-structured column can be promoted to real columns.
    * [[profile]]'s sibling for the schemaless tail of a table.
    *
    * Values are compared in their UNQUOTED string form (Spark's
    * from_json to map<string,string> and DuckDB's json_extract_string
    * agree on scalars); type classes are portable regexes over that
    * form, so the census never depends on either engine's JSON value
    * typing. Scalar contract: nested objects/arrays count as 'other'.
    *
    * Scale: one projection + explode + map-side-combining aggregation
    * to |keys| rows; the JSON parse is per-row codegen. */
  def jsonProfile(df: DataFrame, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    val kv = df
      .select(explode(from_json(col(jsonCol), MapType(StringType, StringType)))
        .as(Seq("key", "__v")))
    kv.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("__v")).as("n_distinct"),
        sum(when(col("__v").rlike("^-?\\d+$"), 1L).otherwise(0L)).as("n_int"),
        sum(when(col("__v").rlike("^-?\\d+\\.\\d+([eE][+-]?\\d+)?$"), 1L)
          .otherwise(0L)).as("n_float"),
        sum(when(col("__v").isin("true", "false"), 1L).otherwise(0L))
          .as("n_bool"))
      .withColumn("n_other",
        col("n") - col("n_null") - col("n_int") - col("n_float") - col("n_bool"))
  }

  /** Per-group dispersion profile of an integer-valued series: mean,
    * unbiased variance, the Fano factor var/mean (= 1 for a Poisson
    * process — uniform arrivals; ≫ 1 = bursty, the bot/batch-upload
    * signature; ≪ 1 = suspiciously regular, the cron signature) and
    * the coefficient of variation. The one-row-per-group burstiness
    * audit that says WHETHER a series needs [[graft.ops.TimeSeries]]'s
    * charts at all.
    *
    * Exact long/decimal(38) moment sums (value² at 1e12-count days is
    * past a 64-bit product), fixed-shape double divisions at the edge,
    * rounded 6 dp; degenerate denominators yield null. One map-side-
    * combining aggregation. */
  def dispersion(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val rows = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val agg = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(dec(col("__x"))).as("__s"),
        sum(dec(col("__x")) * col("__x")).as("__ss"))
    val n = dec(col("n"))
    val mean = col("__s").cast("double") / col("n").cast("double")
    val varNum = (n * col("__ss") - col("__s") * col("__s")).cast("double")
    val variance = varNum / (col("n").cast("double") * (col("n") - 1).cast("double"))
    agg.select(col("__g").as(groupCol), col("n"),
      round(mean, 6).as("mean"),
      when(col("n") > 1, round(variance, 6)).as("variance"),
      when(col("n") > 1 && mean =!= 0.0, round(variance / mean, 6)).as("fano"),
      when(col("n") > 1 && mean > 0.0, round(sqrt(variance) / mean, 6)).as("cv"))
  }

  /** Weight-of-Evidence / Information-Value table (the credit-scoring
    * standard, Siddiqi 2006): equal-width bins of a numeric feature
    * against a binary label; per bin WoE = ln((g·B)/(b·G)) — how much
    * this bin's evidence shifts the prior — and the IV total
    * Σ (g/G − b/B)·WoE scoring the feature's overall separating power
    * (rule of thumb: < 0.02 useless, > 0.5 suspicious). [[psiDrift]]'s
    * formula aimed at a LABEL instead of a second snapshot.
    *
    * Determinism: bin boundaries come from one 1-row min/max aggregate
    * (broadcast back, the psiDrift idiom); counts are exact longs; WoE
    * fixes ln to micro-nats BEFORE the IV product, and per-bin IV terms
    * micro-round before the ≤ nBins-row sum — order-free. One-sided
    * bins (g or b = 0) emit null WoE and contribute 0 to IV (the
    * conventional guard — their true WoE is ±∞).
    *
    * Scale: one data aggregation to nBins rows after a broadcast bounds
    * join; every window here runs over the bin table. */
  def woeIv(df: DataFrame, labelCol: String, valueCol: String,
            nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 2, s"woeIv: nBins=$nBins must be >= 2")
    val rows = df.select(col(valueCol).cast("double").as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__g"))
      .filter(col("__v").isNotNull && col(labelCol).isNotNull)
    val bounds = rows.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val bWidth = (col("__mx") - col("__mn")) / lit(nBins.toDouble)
    val bin = when(bWidth > 0,
      least(floor((col("__v") - col("__mn")) / bWidth), lit(nBins - 1L)))
      .otherwise(lit(0L))
    val cells = rows.crossJoin(broadcast(bounds))
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__g")).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val wAll = Window.partitionBy()
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val withTotals = cells
      .withColumn("__gt", sum(col("n_pos")).over(wAll))
      .withColumn("__bt", sum(col("n_neg")).over(wAll))
    // micro-nat-fixed WoE so libm differences can't reach the IV sum
    val woeMicro = round(log((dec(col("n_pos")) * col("__bt")).cast("double")
      / (dec(col("n_neg")) * col("__gt")).cast("double")) * 1e6, 0).cast("long")
    withTotals
      .withColumn("__wm",
        when(col("n_pos") > 0 && col("n_neg") > 0 &&
          col("__gt") > 0 && col("__bt") > 0, woeMicro))
      .withColumn("woe", round(col("__wm").cast("double") / 1e6, 6))
      .withColumn("__ivt",
        when(col("__wm").isNotNull,
          round((col("n_pos").cast("double") / col("__gt").cast("double")
            - col("n_neg").cast("double") / col("__bt").cast("double"))
            * (col("__wm").cast("double") / 1e6) * 1e6, 0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("iv", round(sum(col("__ivt")).over(wAll).cast("double") / 1e6, 6))
      .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
        col("woe"), col("iv"))
  }

  /** Ingest quarantine triage: classify every row by the FIRST failing
    * rule (rules are (name, is-bad predicate) pairs, priority = list
    * order) and report row counts per reason, 'ok' for clean rows — the
    * one-pass summary an ingest job emits before deciding whether a
    * batch's malformation rate is within tolerance. Rules compose
    * try_cast/regex predicates; the first-match priority mirrors how a
    * parser actually fails (you can't judge the date field of a row
    * whose delimiter was already broken).
    *
    * Scale: a single map-side-combined aggregation over one scan — the
    * reason expression is a scan-side CASE chain, reasons are bounded by
    * the rule list. */
  def quarantineReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "quarantineReport: no rules")
    val reason = rules.reverse.foldLeft(lit("ok")) {
      case (acc, (name, bad)) => when(bad, lit(name)).otherwise(acc)
    }
    df.groupBy(reason.as("reason")).agg(count(lit(1)).as("n"))
  }

  /** Schema-drift report between two relations (yesterday's snapshot vs
    * today's ingest): one row per column name appearing on EITHER side,
    * with presence, declared type, null rate, and the null-rate delta —
    * the admission check that catches a dropped field, a silent type
    * widening, or an upstream null regression BEFORE a 100 TB backfill
    * bakes it in. Complements [[profile]] (one table's content stats)
    * with the two-table structural diff.
    *
    * Scale: each side is ONE map-side-combined aggregate emitting a
    * single row of per-column null counts (the column list is schema
    * metadata, driver-bounded by definition); the report joins two
    * |columns|-row tables. Null rates are single double divisions of
    * exact longs, rounded 6 dp. */
  def schemaDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = {
      val fields = df.schema.fields
      // exact-name resolution (backticks doubled inside a quoted
      // identifier) — col("a.b") would otherwise parse the dot as a
      // struct path; and POSITIONAL internal aliases, so a data column
      // literally named __nn_x / __n can never collide with the
      // aggregate's own bookkeeping names
      def exact(name: String): Column = col(s"`${name.replace("`", "``")}`")
      val aggs = count(lit(1)).as("__gsd_n") +: fields.zipWithIndex.map {
        case (f, i) =>
          sum(when(exact(f.name).isNull, 1L).otherwise(0L)).as(s"__gsd_nn_$i")
      }.toSeq
      // field names/types enter as LITERAL VALUES in typed structs, never
      // spliced into parsed SQL text — a quote or backtick in a column
      // name can't break parsing or mislabel the report
      val pairs = fields.zipWithIndex.map { case (f, i) =>
        struct(lit(f.name).as("column"),
          lit(f.dataType.simpleString).as("dtype"),
          col(s"__gsd_nn_$i").as("nn"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(col("__gsd_n"), explode(array(pairs.toSeq: _*)).as("__kv"))
        .select(col("__kv.column").as("column"),
          col("__kv.dtype").as(s"dtype_$tag"),
          round(col("__kv.nn").cast("double") / col("__gsd_n").cast("double"), 6)
            .as(s"null_rate_$tag"))
    }
    side(a, "a").join(side(b, "b"), Seq("column"), "full_outer")
      .select(col("column"),
        col("dtype_a").isNotNull.as("in_a"),
        col("dtype_b").isNotNull.as("in_b"),
        col("dtype_a"), col("dtype_b"),
        (col("dtype_a").isNotNull && col("dtype_b").isNotNull
          && col("dtype_a") =!= col("dtype_b")).as("type_changed"),
        col("null_rate_a"), col("null_rate_b"),
        when(col("null_rate_a").isNotNull && col("null_rate_b").isNotNull,
          round(col("null_rate_b") - col("null_rate_a"), 6))
          .as("null_rate_delta"))
  }

  /** One-way ANOVA F statistic across the levels of `groupCol` — the
    * k-sample generalization of [[welchTTest]] (equal-variance form):
    * does the metric's mean differ across ANY segment, asked once,
    * instead of k² pairwise t-tests with an FDR bill ([[bhFdr]]).
    * Returns one row: k, n, f (6 dp) and eta_sq (6 dp, SSB/SST — the
    * effect size the F number alone hides).
    *
    * Determinism: per-group sums are exact decimals; the cross-group
    * sums Σ S_g²/n_g and Σ SS_g quantize each group's term to integer
    * micro-units first, so the k-term additions are exact integer
    * arithmetic and can never depend on which group a partial aggregate
    * saw first. F and eta² are then single double divisions of identical
    * integers on every engine.
    *
    * Scale: one map-side-combined aggregation to k rows, then a k-row
    * aggregate — the segment count, not the table, bounds everything
    * after the first exchange. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = df.select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy(col("__g")).agg(
        count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(28,6)")).cast("double").as("__s"),
        sum((col("__v") * col("__v")).cast("decimal(38,12)")).cast("double").as("__ss"))
    g.agg(
        count(lit(1)).as("__k"),
        sum(col("__n")).as("__nt"),
        sum(col("__s").cast("decimal(28,6)")).cast("double").as("__st"),
        // per-group between/within terms in exact micro-units, summed as
        // decimal(38,0): n·value² micro-terms pass 9.2e18 long micros at
        // ~1e12 rows × value~100, where Spark's double→long cast would
        // saturate silently while DuckDB BIGINT errors — decimal/HUGEINT
        // keeps both engines exact (and both error at 1e38, identically)
        sum(round(col("__s") * col("__s") / col("__n") * 1e6, 0)
          .cast("decimal(38,0)")).as("__bm"),
        sum(round(col("__ss") * 1e6, 0).cast("decimal(38,0)")).as("__ssm"))
      .filter(col("__k") >= 2 && col("__nt") > col("__k"))
      .withColumn("__cf", round(col("__st") * col("__st") / col("__nt") * 1e6, 0)
        .cast("decimal(38,0)"))
      .withColumn("__ssb", (col("__bm") - col("__cf")).cast("double") / 1e6)
      .withColumn("__ssw", (col("__ssm") - col("__bm")).cast("double") / 1e6)
      .withColumn("__sst", (col("__ssm") - col("__cf")).cast("double") / 1e6)
      .select(col("__k").as("k"), col("__nt").as("n"),
        round((col("__ssb") / (col("__k") - 1)) /
          (col("__ssw") / (col("__nt") - col("__k"))), 6).as("f"),
        round(col("__ssb") / col("__sst"), 6).as("eta_sq"))
  }

  /** Delete-one-bucket jackknife standard error of a per-group ratio
    * metric Σ num / Σ den (Quenouille/Tukey; the delete-a-group form is
    * how ratio-metric experiment readouts get error bars when rows within
    * a user are correlated — bucket by the randomization unit). For each
    * group: the point ratio, the jackknife SE over `nBuckets` hash
    * buckets of `unitCol`, and the bucket count actually used.
    *
    * Determinism: leave-one-out ratios R_i are single double divisions of
    * exact decimal sums, quantized to integer micro-units before the
    * cross-bucket mean and squared-deviation sums — bucket order can
    * never reach the result. SE's sqrt is the one libm call, applied to
    * an exact integer ratio and rounded to 6 dp (sqrt is IEEE
    * correctly-rounded, portable).
    *
    * Scale: one aggregation to (group × nBuckets) rows, then windows over
    * that bounded table. The data is touched once. */
  def jackknifeRatio(df: DataFrame, groupCol: String, unitCol: String,
                     numCol: Column, denCol: Column,
                     nBuckets: Int = 50,
                     salt: String = "graft-jk"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, s"jackknifeRatio: nBuckets=$nBuckets must be >= 2")
    val cells = df.select(col(groupCol).as("__g"),
        pmod(graft.functions.PortableHash.phash(
          concat_ws("|", lit(salt), col(unitCol).cast("string"))),
          lit(nBuckets.toLong)).as("__b"),
        numCol.cast("decimal(28,6)").as("__num"),
        denCol.cast("decimal(28,6)").as("__den"))
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__num")).as("__sn"), sum(col("__den")).as("__sd"))
    val wg = Window.partitionBy(col("__g"))
    val loo = cells
      .withColumn("__tn", sum(col("__sn")).over(wg))
      .withColumn("__td", sum(col("__sd")).over(wg))
      .filter(col("__td") - col("__sd") > 0)
      // leave-one-out ratio in exact micro-units
      .withColumn("__ri", round((col("__tn") - col("__sn")).cast("double")
        / (col("__td") - col("__sd")).cast("double") * 1e6, 0).cast("long"))
      .withColumn("__b2", count(lit(1)).over(wg))
      .withColumn("__rbar_num", sum(col("__ri")).over(wg))
    // squared deviation of micro-ints around the exact rational mean,
    // carried as (b·r_i − Σr)² / b² in decimal so the square can't
    // overflow a long (d ≤ ~1e12 → d² ≤ 1e24, inside decimal(38,0))
    val d = (col("__b2") * col("__ri") - col("__rbar_num")).cast("decimal(19,0)")
    loo
      .withColumn("__dev", d * d)
      .groupBy(col("__g"), col("__tn"), col("__td"), col("__b2"))
      .agg(sum(col("__dev")).as("__sumdev"))
      .select(col("__g").as(groupCol),
        col("__b2").cast("long").as("n_buckets"),
        round(col("__tn").cast("double") / col("__td").cast("double"), 6).as("ratio"),
        round(sqrt((col("__sumdev").cast("double")
            / (col("__b2") * col("__b2")).cast("double"))
          * (col("__b2") - 1).cast("double") / col("__b2").cast("double")) / 1e6, 6)
          .as("se_jack"))
  }
}
