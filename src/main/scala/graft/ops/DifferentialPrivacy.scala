package graft.ops

import graft.functions.PortableHash.puniform
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential-privacy mechanisms. The reference repo's name promises DP
  * but implements none (SURVEY §0 note) — this fills that gap as the
  * extension SURVEY §7.2 step 7 mandates.
  *
  * Laplace mechanism: noisy = true + Lap(sensitivity/ε), via inverse-CDF:
  * Lap(b) = -b * sign(u - 0.5) * ln(1 - 2|u - 0.5|), u ~ U(0,1).
  *
  * Two noise sources:
  *  - `laplaceDeterministic`: u derived from a portable hash of
  *    (groupKey, seed). Reproducible across runs AND engines — this is the
  *    testing/oracle mode, and is NOT private against an adversary who
  *    knows the seed. Clearly so documented.
  *  - `laplace`: u from Spark's `rand(seed)` — per-run random, the
  *    production path (seed from SecureRandom upstream).
  *
  * Budget accounting is simple sequential composition: ε_total = Σ ε_i,
  * tracked by PrivacyBudget on the driver (queries are planned on the
  * driver; the accountant gates plan construction, not execution).
  *
  * Scale: noise is a per-row codegen'd expression over the aggregated
  * result — cost is the aggregation itself; the mechanism adds nothing.
  */
object DifferentialPrivacy {

  /** Laplace quantile transform of a uniform column. */
  private def lapFromU(u: Column, scale: Column): Column = {
    val c = u - lit(0.5)
    -scale * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
  }

  /** Deterministic (hash-seeded) Laplace noise keyed on `key` — test/oracle
    * mode; anyone knowing `seed` can denoise. */
  def laplaceDeterministic(value: Column, key: Column, sensitivity: Double,
                           epsilon: Double, seed: Long): Column =
    value + lapFromU(puniform(concat_ws("|", key, lit(seed))),
      lit(sensitivity / epsilon))

  /** Random Laplace noise (production path). rand() is clamped into
    * (0,1): u = 0.0 exactly would send the inverse CDF to -Infinity. */
  def laplace(value: Column, sensitivity: Double, epsilon: Double,
              seed: Long): Column = {
    val eps = 1e-12
    val u = greatest(least(rand(seed), lit(1.0 - eps)), lit(eps))
    value + lapFromU(u, lit(sensitivity / epsilon))
  }

  /** Collision-free noise key: separator + null sentinel, so distinct
    * groups like ("a","bc")/("ab","c") or ("a",null)/("a","") never share
    * a Laplace draw (concat_ws alone both skips nulls and erases column
    * boundaries). */
  private def noiseKey(groupCols: Seq[String]): Column =
    concat_ws("|", groupCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null"))): _*)

  /** Noise an already-aggregated value keyed on its group columns — the
    * composition point for pipelines that aggregate elsewhere (e.g. a
    * watermarked streaming window agg) and only need the release step.
    * Pure per-row expression over the aggregate, so it is streaming-safe:
    * no extra shuffle, no state. The hash-keyed draw means re-releasing
    * the same group (batch replay, complete-mode re-emit) repeats the
    * SAME noise instead of averaging it away — repeated observation of
    * one release leaks nothing beyond that release. */
  def noisyRelease(value: Column, groupCols: Seq[String], sensitivity: Double,
                   epsilon: Double, seed: Long): Column =
    round(laplaceDeterministic(value, noiseKey(groupCols), sensitivity,
      epsilon, seed), 6)

  /** DP count per group: count + Lap(1/ε) (count has sensitivity 1),
    * deterministic mode. */
  def dpCount(df: DataFrame, groupCols: Seq[String], epsilon: Double,
              seed: Long): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__true_count"))
      .select(groupCols.map(col) :+
        noisyRelease(col("__true_count"), groupCols, 1.0, epsilon, seed)
          .as("dp_count"): _*)

  /** DP sum per group with values clipped to [lo, hi] (sensitivity =
    * max(|lo|, |hi|)), deterministic mode. */
  def dpSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
            lo: Double, hi: Double, epsilon: Double, seed: Long): DataFrame = {
    val clipped = greatest(least(col(valueCol), lit(hi)), lit(lo))
    df.groupBy(groupCols.map(col): _*)
      .agg(sum(clipped).as("__true_sum"))
      .select(groupCols.map(col) :+
        noisyRelease(col("__true_sum"), groupCols,
          math.max(math.abs(lo), math.abs(hi)), epsilon, seed)
          .as("dp_sum"): _*)
  }

  /** (ε, δ)-DP histogram over an UNKNOWN category domain via
    * stability-based thresholding (Korolova, Kenthapadi, Mishra &
    * Ntoulas, WWW 2009; Bun, Nissim & Stemmer). A plain Laplace
    * histogram is only ε-DP when the bin domain is PUBLIC — releasing
    * the observed bin set itself leaks membership (a bin that exists
    * only because of one record names that record's value). Mechanism:
    * noisy count c + Lap(1/ε) per OBSERVED bin, release only bins whose
    * noisy count clears τ = 1 + ln(1/(2δ))/ε; a bin supported by a
    * single record then passes with probability exactly δ, which is the
    * (ε, δ) relaxation's allowance. Assumes each record lands in ONE
    * bin (count sensitivity 1) — true for any groupBy of row
    * attributes.
    *
    * Deterministic (hash-seeded) noise mode, same test/oracle caveat as
    * [[laplaceDeterministic]]. The threshold compares the 6 dp-ROUNDED
    * release, so an external engine replays the released bin set
    * bit-for-bit. Scale: one aggregation + a codegen'd per-row filter;
    * the unreleased tail never leaves the executors. */
  /** Widest category domain [[randomizedResponseFreq]] will encode. */
  val MaxRrDomain = 10000

  /** LOCAL differential privacy: generalized randomized response
    * (Warner 1965; k-RR, Kairouz-Oh-Viswanath 2016) over a categorical
    * column. Each ROW (not the aggregator) perturbs its own value —
    * reported = true category with probability p = 3/4, else uniform
    * over the other k-1 — so the collector never holds a truthful
    * table; the LDP guarantee is eps = ln(p(k-1)/(1-p)) = ln(3(k-1)).
    * The frequency estimate debiases with the closed form
    * (c_v - n*q)/(p - q), which at p=3/4 reduces to integers:
    * (4(k-1)*c_v - n) / (3(k-1) - 1), released as an IEEE division of
    * exact integers rounded 6 dp — any engine replays it bit-for-bit.
    *
    * Per-row "randomness" is the PortableHash of (salt|rowKey):
    * deterministic and partition-independent (the q42 idiom) — swap a
    * real RNG in deployment. The category domain is collected with a
    * LIMIT-capped probe (max [[MaxRrDomain]]) and broadcast; k-RR is
    * only sensible on small domains anyway. One pass, one aggregation:
    * the perturbation is a codegen'd projection. */
  def randomizedResponseFreq(df: DataFrame, categoryCol: String,
                             rowKey: Column,
                             salt: String = "graft-rr"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dom = df.select(col(categoryCol).cast("string")).distinct()
      .orderBy(col(categoryCol)).limit(MaxRrDomain + 1)
      .as[String].collect()
    require(dom.length <= MaxRrDomain,
      s"randomizedResponseFreq: > $MaxRrDomain categories in '$categoryCol'" +
        " — k-RR needs a small public domain; bin or bucket first")
    require(dom.length >= 2, "randomizedResponseFreq: need >= 2 categories")
    val k = dom.length
    val dict = dom.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toSeq
      .toDF("__cat", "__idx")
    val keep = pmod(graft.functions.PortableHash.phash(
      concat_ws("|", lit(salt + "-keep"), rowKey.cast("string"))), lit(4L)) < 3
    val pick = pmod(graft.functions.PortableHash.phash(
      concat_ws("|", lit(salt + "-pick"), rowKey.cast("string"))), lit((k - 1).toLong))
    val reported = df
      .join(broadcast(dict), col(categoryCol).cast("string") === col("__cat"))
      .select(when(keep, col("__idx"))
        .when(pick >= col("__idx"), pick + 1)
        .otherwise(pick).as("__idx"))
      .groupBy("__idx").agg(count(lit(1)).as("n_reported"))
    // n = sum of reported counts (every row reports exactly once) — no
    // second scan of df
    val totals = reported.agg(sum(col("n_reported")).as("__n"))
    dict.join(reported, Seq("__idx"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__cat").as(categoryCol),
        coalesce(col("n_reported"), lit(0L)).as("n_reported"),
        round((lit(4.0 * (k - 1)) * coalesce(col("n_reported"), lit(0L))
          - col("__n").cast("double")) / lit(3.0 * (k - 1) - 1.0), 6)
          .as("n_est"))
  }

  def dpHistogram(df: DataFrame, groupCols: Seq[String], epsilon: Double,
                  delta: Double, seed: Long): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(delta > 0 && delta < 0.5, s"delta must be in (0, 0.5), got $delta")
    val tau = 1.0 + math.log(1.0 / (2.0 * delta)) / epsilon
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__true_count"))
      .select(groupCols.map(col) :+
        noisyRelease(col("__true_count"), groupCols, 1.0, epsilon, seed)
          .as("dp_count"): _*)
      .filter(col("dp_count") >= lit(math.rint(tau * 1e6) / 1e6))
  }

  /** ε-DP top-k item selection by ONE-SHOT Gumbel noise (Durfee & Rogers
    * 2019, "Practical Differentially Private Top-k Selection"): add
    * G ~ Gumbel(k/ε) to each item's count and take the k largest — this
    * is distributionally identical to k rounds of peeling with the
    * exponential mechanism at ε/k each, in ONE pass instead of k
    * sequential jobs. Only the RANKED ITEM LIST is released (selection,
    * not estimation — release counts separately under their own Laplace
    * budget if needed). Output: (rank, item).
    *
    * Determinism: G_v = −ln(−ln(U_v)) from the portable hash of
    * (item, seed) — the [[dpMedianExp]] Gumbel-max convention; scores
    * round to 6 dp before ranking, ties break on the item.
    *
    * Scale: one map-side-combined count aggregation; the noisy ranking
    * is a TakeOrderedAndProject top-k (per-partition heaps), never a
    * global sort. */
  def dpTopK(df: DataFrame, itemCol: String, k: Int, epsilon: Double,
             seed: Long): DataFrame = {
    require(k >= 1, s"dpTopK: k=$k must be >= 1")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    import org.apache.spark.sql.expressions.Window
    val u = puniform(concat_ws("|", col(itemCol).cast("string"), lit(seed)))
    val gumbel = -log(-log(u))
    // orderBy+limit = TakeOrderedAndProject (per-partition k-heaps, no
    // global sort over the item domain); the rank window then runs over
    // the k surviving rows only
    val top = df.filter(col(itemCol).isNotNull)
      .groupBy(col(itemCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__score",
        round(col("__c") + lit(k / epsilon) * gumbel, 6))
      .orderBy(col("__score").desc, col(itemCol))
      .limit(k)
    val w = Window.orderBy(col("__score").desc, col(itemCol))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col(itemCol))
  }

  // ---- Exponential mechanism -------------------------------------------

  /** ε-DP median via the EXPONENTIAL MECHANISM (McSherry & Talwar, FOCS
    * 2007) — selection among candidates, where Laplace/Gaussian noise on
    * the value itself would be nonsense (the median of a bounded-support
    * column needs a value FROM the domain, and value-noise sensitivity is
    * the whole range). Candidates are the column's distinct values;
    * utility u(v) = −|#{x < v} − #{x > v}| (0 at a true median, falling
    * by 1 per displaced rank; add/remove-one sensitivity Δu = 1);
    * selection probability ∝ exp(ε·u/(2Δu)).
    *
    * Implementation is the GUMBEL-MAX trick: argmax_v [ε·u(v)/2 + G_v]
    * with G_v = −ln(−ln(U_v)) i.i.d. Gumbel — distributionally identical
    * to softmax sampling, but expressible as one ranking window instead
    * of a cumulative-sum inverse-CDF pass. U_v comes from the portable
    * hash of (group, v, seed): deterministic test/oracle mode, same
    * caveat as [[laplaceDeterministic]]. Scores round to 6 dp before
    * ranking (ties → smallest value) so an external engine ranks
    * identically.
    *
    * Scale: one distinct-aggregation (map-side combined), one per-group
    * cumulative window over the DISTINCT values (bounded by the value
    * domain, not the row count), one rank. */
  def dpMedianExp(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  epsilon: Double, seed: Long): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val cand = df.groupBy(g :+ col(valueCol).cast("double").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val scored = cand
      .withColumn("__lt", coalesce(sum(col("__c")).over(wOrd), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .withColumn("__u", -abs(col("__lt") - (col("__n") - col("__lt") - col("__c"))))
      // the candidate value enters the hash key through a FIXED %.6f
      // render: double->string casts format differently across engines
      // (Spark "1.0E7" vs DuckDB "10000000.0"), printf does not
      .withColumn("__gu", puniform(concat_ws("|",
        noiseKey(groupCols), format_string("%.6f", col("__v")),
        lit(seed), lit("em"))))
      .withColumn("__score",
        round(lit(epsilon / 2.0) * col("__u") - log(-log(col("__gu"))), 6))
    val wPick = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__score").desc, col("__v"))
    scored.withColumn("__r", row_number().over(wPick))
      .filter(col("__r") === 1)
      .select(g :+ col("__v").as("dp_median"): _*)
  }

  // ---- Sparse vector technique -----------------------------------------

  /** Sparse Vector Technique over an ORDERED query sequence (Dwork &
    * Roth 2014, Alg. 2 "Sparse"; Lyu, Su & Li, VLDB 2017 for the
    * corrected noise calibration). Input is one row per already-
    * aggregated query (each with add/remove-one sensitivity 1 — e.g.
    * per-day counts); the mechanism compares each noisy answer against
    * a noisy threshold IN SEQUENCE, emits ⊤/⊥ indicators, and HALTS
    * after the c-th ⊤ — total cost ε regardless of how many ⊥ queries
    * were examined, which is the whole point: budget is paid per
    * RELEASE, not per question. Split: ε/2 on the threshold draw,
    * ε/(2c) per above-threshold comparison (scale 2c·Δ/ε each side).
    *
    * Distributed formulation of an inherently sequential mechanism:
    * every noisy comparison is a per-row expression computed in
    * parallel; "halt after the c-th ⊤" becomes a running ⊤-count
    * window over the query sequence, keeping rows whose preceding-⊤
    * count is < c (the c-th ⊤ itself is the last row emitted, exactly
    * the sequential transcript). The window runs over the QUERY table —
    * queries are aggregates, orders of magnitude smaller than the data.
    *
    * Deterministic (hash-seeded) noise: threshold draw keyed on the
    * seed alone, per-query draws on the group key — same test/oracle
    * caveat as [[laplaceDeterministic]]. Indicators round their margin
    * to 6 dp before the sign test so an external engine replays the
    * transcript exactly. */
  def svtAboveThreshold(queries: DataFrame, groupCols: Seq[String],
                        valueCol: String, threshold: Double, epsilon: Double,
                        c: Int, seed: Long): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(c >= 1, s"c=$c must be >= 1")
    require(groupCols.nonEmpty, "need at least one (ordering) group column")
    import org.apache.spark.sql.expressions.Window
    // threshold: T + Lap(2/ε) — one draw for the whole run
    val tNoisy = lit(threshold) +
      lapFromU(puniform(concat_ws("|", lit("svt-t"), lit(seed))), lit(2.0 / epsilon))
    // per-query: v + Lap(4c/ε)
    val vNoisy = col(valueCol) +
      lapFromU(puniform(concat_ws("|", noiseKey(groupCols), lit(seed), lit("svt"))),
        lit(4.0 * c / epsilon))
    val wSeq = Window.orderBy(groupCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    queries
      .withColumn("above", round(vNoisy - tNoisy, 6) >= 0)
      .withColumn("__prior", coalesce(sum(when(col("above"), 1L).otherwise(0L))
        .over(wSeq), lit(0L)))
      .filter(col("__prior") < c)
      .select(groupCols.map(col) :+ col("above"): _*)
  }

  // ---- Gaussian mechanism / zCDP ---------------------------------------

  /** Noise σ for (ε, δ)-DP via the classic analytic bound
    * σ = Δ·sqrt(2·ln(1.25/δ))/ε (Dwork & Roth 2014, Thm A.1; requires
    * ε ≤ 1 — enforced, because the bound is simply false above that and
    * silently under-noising is the worst DP bug there is). */
  def gaussianSigma(sensitivity: Double, epsilon: Double, delta: Double): Double = {
    require(epsilon > 0 && epsilon <= 1.0,
      s"analytic Gaussian bound requires 0 < eps <= 1, got $epsilon")
    require(delta > 0 && delta < 1, s"delta must be in (0,1), got $delta")
    sensitivity * math.sqrt(2.0 * math.log(1.25 / delta)) / epsilon
  }

  /** Deterministic standard normal via Box-Muller over two hash uniforms
    * keyed on (`key`, seed): z = sqrt(-2 ln u1) · cos(2π u2). Same
    * test/oracle caveat as [[laplaceDeterministic]] — anyone knowing the
    * seed can denoise; production uses [[gaussian]] (randn). puniform
    * never returns 0 or 1 exactly, so the transform is total. */
  def gaussianDeterministic(value: Column, key: Column, sigma: Double,
                            seed: Long): Column = {
    val u1 = puniform(concat_ws("|", key, lit(seed), lit("g1")))
    val u2 = puniform(concat_ws("|", key, lit(seed), lit("g2")))
    value + lit(sigma) * sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** Random Gaussian noise (production path): Spark's codegen'd randn. */
  def gaussian(value: Column, sigma: Double, seed: Long): Column =
    value + lit(sigma) * randn(seed)

  /** Gaussian-mechanism release of an aggregated value keyed on its group
    * columns — the (ε, δ) sibling of [[noisyRelease]], same
    * replay-repeats-the-same-noise contract. */
  def noisyReleaseGaussian(value: Column, groupCols: Seq[String],
                           sigma: Double, seed: Long): Column =
    round(gaussianDeterministic(value, noiseKey(groupCols), sigma, seed), 6)

  /** (ε, δ)-DP count per group via the Gaussian mechanism (count has
    * L2 sensitivity 1), deterministic mode. */
  def dpCountGaussian(df: DataFrame, groupCols: Seq[String], epsilon: Double,
                      delta: Double, seed: Long): DataFrame = {
    val sigma = gaussianSigma(1.0, epsilon, delta)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__true_count"))
      .select(groupCols.map(col) :+
        noisyReleaseGaussian(col("__true_count"), groupCols, sigma, seed)
          .as("dp_count"): _*)
  }
}

/** DURABLE budget ledger: [[PrivacyBudget]]/[[ZCdpBudget]] are
  * process-local, but a real deployment must refuse an over-budget
  * release ACROSS sessions — the analyst who re-runs tomorrow's job
  * gets tomorrow's remaining budget, not a fresh one. State lives as a
  * [[graft.sources.SnapshotStore]] table of (release_id, amount, meta)
  * rows plus one `__total` row; every charge is one atomic versioned
  * commit, so a reader never sees a half-applied charge and a crashed
  * release leaves the previous ledger state live.
  *
  * Idempotent by release id: re-charging an id already in the ledger is
  * a no-op (the crashed-release replay converges instead of
  * double-spending — same contract as the ingest paths). `amount` is
  * whatever the caller accounts in — ε under sequential composition, ρ
  * under zCDP ([[ZCdpBudget.rhoOf]] gives the Gaussian ρ;
  * [[epsilonFor]] converts the spent ρ to a final (ε, δ)).
  *
  * The ledger is a human-scale artifact (one row per RELEASE, not per
  * row of data) — reading it to the driver is bounded by construction.
  * Charges are driver-serialized: concurrent chargers from separate
  * processes should route through one accountant process, as any
  * budget authority must. */
object BudgetLedger {
  import graft.sources.SnapshotStore
  private val TotalId = "__total"

  /** Create the ledger with its lifetime budget. Refuses to re-init an
    * existing ledger (that would reset spent state). */
  def init(spark: org.apache.spark.sql.SparkSession, dir: String,
           total: Double, meta: String = ""): Long = {
    require(total > 0, s"total budget must be positive, got $total")
    require(SnapshotStore.committedVersion(spark, dir).isEmpty,
      s"ledger at $dir is already initialized")
    import spark.implicits._
    SnapshotStore.commitSmall(
      Seq((TotalId, total, meta)).toDF("release_id", "amount", "meta"),
      dir, meta)
  }

  /** (total, spent) from the durable state; spent sums in release_id
    * order (deterministic across re-reads). */
  def state(spark: org.apache.spark.sql.SparkSession,
            dir: String): (Double, Double) = {
    val rows = SnapshotStore.read(spark, dir)
      .select(col("release_id"), col("amount")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val total = rows.collectFirst { case (TotalId, t) => t }.getOrElse(
      throw new IllegalStateException(s"ledger at $dir has no $TotalId row"))
    (total, rows.collect { case (id, a) if id != TotalId => a }.sum)
  }

  def spent(spark: org.apache.spark.sql.SparkSession, dir: String): Double =
    state(spark, dir)._2

  def remaining(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val (t, s) = state(spark, dir); t - s
  }

  /** Atomically charge `amount` for `releaseId`; returns the remaining
    * budget after the charge. Throws when the charge would exceed the
    * total; a release id already in the ledger is a no-op (replay). */
  def charge(spark: org.apache.spark.sql.SparkSession, dir: String,
             releaseId: String, amount: Double,
             meta: String = ""): Double = {
    require(amount > 0, s"amount must be positive, got $amount")
    require(releaseId != TotalId && releaseId.nonEmpty,
      s"invalid release id '$releaseId'")
    val cur = SnapshotStore.read(spark, dir)
    val already = cur.filter(col("release_id") === releaseId).count() > 0
    if (!already) {
      val (total, sp) = state(spark, dir)
      if (sp + amount > total + 1e-12)
        throw new IllegalStateException(
          f"privacy budget exhausted: spent $sp%.6f + $amount%.6f > $total%.6f ($dir)")
      import spark.implicits._
      SnapshotStore.commitAppend(
        Seq((releaseId, amount, meta)).toDF("release_id", "amount", "meta")
          .coalesce(1), // 1-row delta: one writer task, not defaultParallelism
        dir, s"charge:$releaseId")
    }
    remaining(spark, dir)
  }

  /** Charge one Gaussian release by its zCDP cost ρ = Δ²/(2σ²). */
  def chargeGaussian(spark: org.apache.spark.sql.SparkSession, dir: String,
                     releaseId: String, sensitivity: Double, sigma: Double,
                     meta: String = ""): Double = {
    require(sensitivity > 0 && sigma > 0, "need positive sensitivity/sigma")
    charge(spark, dir, releaseId,
      sensitivity * sensitivity / (2.0 * sigma * sigma), meta)
  }

  /** Treat the spent amounts as zCDP ρ and convert to the implied
    * (ε, δ) guarantee (Bun-Steinke Prop. 1.3). */
  def epsilonFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                 delta: Double): Double = {
    require(delta > 0 && delta < 1, s"delta must be in (0,1), got $delta")
    val rho = spent(spark, dir)
    rho + 2.0 * math.sqrt(rho * math.log(1.0 / delta))
  }

  /** The charge history (release_id, amount, meta), total row excluded. */
  def charges(spark: org.apache.spark.sql.SparkSession,
              dir: String): DataFrame =
    SnapshotStore.read(spark, dir).filter(col("release_id") =!= TotalId)
}

/** Sequential-composition ε-budget accountant (driver-side plan gate). */
final class PrivacyBudget(val totalEpsilon: Double) {
  private var spentEps = 0.0
  def spent: Double = spentEps
  def remaining: Double = totalEpsilon - spentEps
  /** Reserve ε for a query; throws if the budget would be exceeded. */
  def charge(epsilon: Double): Unit = synchronized {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(spentEps + epsilon <= totalEpsilon + 1e-12,
      f"privacy budget exhausted: spent $spentEps%.3f + $epsilon%.3f > $totalEpsilon%.3f")
    spentEps += epsilon
  }
}

/** zero-Concentrated DP accountant (Bun & Steinke, "Concentrated
  * Differential Privacy: Simplifications, Extensions, and Lower Bounds",
  * TCC 2016). Why a second accountant: under sequential composition the
  * pure-ε ledger grows linearly in the number of Gaussian releases, while
  * the zCDP ledger grows linearly in ρ = Δ²/(2σ²) — and converts to a
  * FINAL (ε, δ) via ε = ρ + 2·sqrt(ρ·ln(1/δ)), i.e. ε grows as √k over k
  * releases instead of k. The daily-release pipeline (one noisy stats
  * table per ingest) lives or dies on that difference.
  *
  * Usage: charge each Gaussian release by its (sensitivity, σ); read the
  * cumulative guarantee with [[epsilonFor]] at any δ. */
final class ZCdpBudget(val totalRho: Double) {
  private var spentRho = 0.0
  def spent: Double = spentRho
  def remaining: Double = totalRho - spentRho

  /** ρ cost of one Gaussian mechanism invocation: Δ²/(2σ²). */
  def rhoOf(sensitivity: Double, sigma: Double): Double = {
    require(sensitivity > 0 && sigma > 0, s"need positive sensitivity/sigma")
    sensitivity * sensitivity / (2.0 * sigma * sigma)
  }

  /** Reserve the ρ for a Gaussian release; throws if over budget. */
  def chargeGaussian(sensitivity: Double, sigma: Double): Unit = synchronized {
    val rho = rhoOf(sensitivity, sigma)
    require(spentRho + rho <= totalRho + 1e-12,
      f"zCDP budget exhausted: spent $spentRho%.4f + $rho%.4f > $totalRho%.4f")
    spentRho += rho
  }

  /** The (ε, δ) guarantee the SPENT ρ implies (Bun-Steinke Prop. 1.3):
    * ε(δ) = ρ + 2·sqrt(ρ·ln(1/δ)). */
  def epsilonFor(delta: Double): Double = {
    require(delta > 0 && delta < 1, s"delta must be in (0,1), got $delta")
    spentRho + 2.0 * math.sqrt(spentRho * math.log(1.0 / delta))
  }
}
