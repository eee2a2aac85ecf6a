package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Label/prediction evaluation: inter-annotator agreement and the
  * per-class classification report — the label-quality audits a
  * training-data pipeline runs before trusting annotations (raw
  * percent-agreement overstates quality when the label distribution is
  * skewed; kappa subtracts the agreement two raters would reach by
  * chance).
  *
  * Everything reduces over the |labels|² confusion-cell table, so after
  * one map-side-combining aggregation of the data every statistic is
  * metadata-scale. Counts are exact longs; the chance-agreement
  * products widen to decimal(38) BEFORE multiplying (the long-overflow
  * rule this codebase enforces); each output is one double division at
  * the edge, rounded 6 dp.
  */
object Evaluation {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Cohen's kappa (Cohen 1960) between two label columns over the rows
    * where both are non-null. Exact integer identity:
    * κ = (d·n − S) / (n² − S) with d = Σ diagonal cells and
    * S = Σ_k rowₖ·colₖ — no intermediate float p₀/p_e rounding. Output:
    * one row (n, po, pe, kappa); κ is null when chance agreement is
    * total (n² = S, e.g. both raters constant). */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // cells feeds three consumers (row margins, col margins, totals);
    // persist the |labels|²-row table so the data aggregates once
    val cells = df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => cells.unpersist())
    val ra = cells.groupBy(col("__a").as("__k")).agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy(col("__b").as("__k")).agg(sum(col("__c")).as("__cb"))
    val chance = ra.join(cb, Seq("__k"))
      .agg(sum(dec(col("__ra")) * dec(col("__cb"))).as("__s"))
    val totals = cells.agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L)).as("__d"))
    val n = dec(col("__n"))
    totals.crossJoin(broadcast(chance)).select(
      col("__n").as("n"),
      round(col("__d").cast("double") / col("__n").cast("double"), 6).as("po"),
      round(col("__s").cast("double")
        / (n * n).cast("double"), 6).as("pe"),
      when(n * n =!= col("__s"),
        round((dec(col("__d")) * n - col("__s")).cast("double")
          / (n * n - col("__s")).cast("double"), 6)).as("kappa"))
  }

  /** Per-class precision/recall/F1 against an actual-label column —
    * one row per label in either column: support (actual count), tp,
    * fp, fn, precision tp/(tp+fp), recall tp/(tp+fn), and F1 in its
    * exact integer form 2tp/(2tp+fp+fn) (no intermediate rounding).
    * Degenerate denominators yield null, not 0-by-convention. */
  def classificationReport(df: DataFrame, actualCol: String,
                           predCol: String): DataFrame = {
    // same three-consumer shape as cohensKappa: persist the cell table
    val cells = df.select(col(actualCol).cast("string").as("__a"),
        col(predCol).cast("string").as("__p"))
      .filter(col("__a").isNotNull && col("__p").isNotNull)
      .groupBy(col("__a"), col("__p"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => cells.unpersist())
    val actuals = cells.groupBy(col("__a").as("label"))
      .agg(sum(col("__c")).as("support"))
    val preds = cells.groupBy(col("__p").as("label"))
      .agg(sum(col("__c")).as("__pred"))
    val diag = cells.filter(col("__a") === col("__p"))
      .select(col("__a").as("label"), col("__c").as("__tp"))
    val tp = col("__tp")
    actuals.join(preds, Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("__tp"), lit(0L)).as("__tp"),
        (coalesce(col("__pred"), lit(0L)) - coalesce(col("__tp"), lit(0L)))
          .as("__fp"),
        (coalesce(col("support"), lit(0L)) - coalesce(col("__tp"), lit(0L)))
          .as("__fn"))
      .select(col("label"), col("support"),
        tp.as("tp"), col("__fp").as("fp"), col("__fn").as("fn"),
        when(tp + col("__fp") > 0,
          round(tp.cast("double") / (tp + col("__fp")).cast("double"), 6))
          .as("precision"),
        when(tp + col("__fn") > 0,
          round(tp.cast("double") / (tp + col("__fn")).cast("double"), 6))
          .as("recall"),
        when(tp * 2 + col("__fp") + col("__fn") > 0,
          round((tp * 2).cast("double")
            / (tp * 2 + col("__fp") + col("__fn")).cast("double"), 6))
          .as("f1"))
  }

  /** ROC AUC of a score column against a binary label, in its exact
    * rank-sum (Mann-Whitney) form: AUC = P(score⁺ > score⁻) +
    * ½·P(score⁺ = score⁻) = U⁺ / (n⁺·n⁻) with midranks for ties — the
    * threshold-free ranking-quality number for a model/quality-score
    * audit (threshold metrics like q216's F1 move with the operating
    * point; AUC doesn't).
    *
    * Determinism and scale are [[graft.ops.DataQuality.mannWhitneyU]]'s
    * contract verbatim: ranks come from the distinct-score counts table
    * via [[Ranking.valueCountsBefore]] (1024 monotone score buckets — a
    * continuous score's distinct domain is DATA-sized, so no `ORDER BY
    * score` global window), doubled midranks keep every intermediate
    * integer, and products widen to decimal(38) before multiplying
    * (2·R⁺ ≈ n⁺·2n ~ 1e24 at 1e12 rows — past a silent 64-bit wrap).
    * Rows with a NULL score or label are excluded (a null score can't
    * be ranked and must not count toward n⁺/n⁻ either — the ksTest
    * NULL contract). Output: one row (n_pos, n_neg, auc); auc is null
    * when either class is empty. */
  def aucRoc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    auc(df, None, labelCol, scoreCol)

  /** Per-segment ROC AUC — [[aucRoc]] computed independently within each
    * level of `groupCol`, in one pipeline: the fairness/robustness audit
    * that catches a scorer whose global AUC is fine but which ranks one
    * language, source, or cohort no better than chance. Midrank tie
    * handling and exact integer rank sums are identical to the global
    * form; segments where either class is absent emit a null AUC rather
    * than a misleading number.
    *
    * Scale: one (segment, score) map-side-combined aggregation, the
    * per-TAG 1024-bucket prefix scheme ([[Ranking.valueCountsBeforeByTag]]
    * — per-segment bounds broadcast, windows over the reduced distinct-
    * score table only), then one segment-keyed aggregate. No data-sized
    * sort window, no per-segment job fan-out. */
  def aucRocBySegment(df: DataFrame, groupCol: String, labelCol: String,
                      scoreCol: String): DataFrame =
    auc(df, Some(groupCol), labelCol, scoreCol)

  /** [[aucRoc]] per level of `groupCol`; with no group, one global row. */
  private def auc(df: DataFrame, groupCol: Option[String], labelCol: String,
                  scoreCol: String): DataFrame = {
    val g = groupCol.map(_ => "__g").toSeq
    val rows = df.select(groupCol.map(col(_).as("__g")).toSeq ++ Seq(
        col(scoreCol).cast("double").as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos")): _*)
      .filter((g :+ "__v").map(col(_).isNotNull).reduce(_ && _) && col(labelCol).isNotNull)
    val counts = rows.groupBy((g :+ "__v").map(col): _*)
      .agg(sum(col("__pos")).as("__cp"), count(lit(1)).as("__t"))
    val cum = Ranking.countsBefore(counts, g, "__v", "__t")
    val agg = cum.groupBy(g.map(col): _*).agg(
      sum(col("__cp")).as("n_pos"),
      sum(col("__t") - col("__cp")).as("n_neg"),
      // doubled positive rank-sum: midrank(v) = before + (t+1)/2, so
      // 2·R⁺ = Σ cp·(2·before + t + 1) stays integer under ties
      sum(dec(col("__cp")) * (col("__before") * 2 + col("__t") + 1)).as("__r2p"))
    // U⁺ = R⁺ − n⁺(n⁺+1)/2, all in decimal(38) before the one edge division
    val u2p = col("__r2p") - dec(col("n_pos")) * (col("n_pos") + 1)
    agg.select(groupCol.map(col("__g").as(_)).toSeq ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(u2p.cast("double")
          / (dec(col("n_pos")) * col("n_neg") * 2).cast("double"), 6))
        .as("auc")): _*)
  }

  /** Calibration (reliability) table of a [0,1] score against a binary
    * label: `nBins` equal-width score bins, and per bin the count, the
    * mean predicted score, and the observed positive rate — the curve
    * whose diagonal gap is miscalibration (a model can rank perfectly,
    * q217's AUC = 1, and still be wildly over-confident).
    *
    * Determinism: the bin index is a pure projection
    * (least(floor(s·nBins), nBins−1) — the right edge closes the last
    * bin, the F1 equal-width convention); mean score accumulates in
    * micro-units (round(s·1e6) longs summed in decimal(38) — double
    * tree-aggregation order would make the mean run-dependent); both
    * ratios divide once at the edge, rounded 6 dp. One map-side-combined
    * aggregation; output is nBins rows. */
  def calibrationBins(df: DataFrame, labelCol: String, scoreCol: String,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"calibrationBins: nBins=$nBins must be >= 2")
    val rows = df.select(col(scoreCol).cast("double").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos"))
      .filter(col("__s").isNotNull && col(labelCol).isNotNull
        && col("__s") >= 0 && col("__s") <= 1)
    rows
      .withColumn("bin",
        least(floor(col("__s") * nBins), lit(nBins - 1L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__s") * 1e6, 0).cast("decimal(38,0)")).as("__sm"),
        sum(col("__pos")).as("__np"))
      .select(col("bin"), col("n"),
        round(col("__sm").cast("double") / 1e6
          / col("n").cast("double"), 6).as("mean_score"),
        round(col("__np").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"))
  }

  /** Cumulative gains / lift table: score-rank `nTiles`-iles (tile
    * `nTiles` = highest scores) with, walking DOWN from the top tile,
    * the cumulative share of positives captured and the lift over the
    * base rate — "the top 20% of scores capture 54% of positives at
    * 2.7× lift", the business-facing readout between [[aucRoc]]'s one
    * number and [[calibrationBins]]'s probability audit.
    *
    * Tiles are the exact tie-stable quantiles of the RFM identity
    * (before·`nTiles` div n + 1, computed on the distinct-score counts
    * table via [[Ranking.globalPrefixSum]] — no ntile, no data-sized
    * sort window, tied scores always share a tile). Heavy ties can
    * leave some tiles empty; rows are emitted for present tiles only.
    * Counts are exact longs; capture and lift are fixed-shape double
    * divisions at the edge, rounded 6 dp. */
  def liftTable(df: DataFrame, labelCol: String, scoreCol: String,
                nTiles: Int = 10): DataFrame = {
    require(nTiles >= 2, s"liftTable: nTiles=$nTiles must be >= 2")
    val rows = df.select(col(scoreCol).cast("double").as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos"))
      .filter(col("__v").isNotNull && col(labelCol).isNotNull)
    // the distinct-score counts feed three consumers (bounds probe,
    // row total, prefix-sum pass): persist so the data aggregates once
    val counts = rows.groupBy(col("__v"))
      .agg(sum(col("__pos")).as("__cp"), count(lit(1)).as("__t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => counts.unpersist())
    val nRow = counts.agg(sum(col("__t")).as("__n"))
    val tiles = Ranking.valueCountsBefore(counts, "__v", "__t")
      .crossJoin(broadcast(nRow))
      .withColumn("tile",
        (expr(s"(__before * $nTiles) div __n") + 1).cast("long"))
      .groupBy(col("tile"))
      .agg(sum(col("__t")).as("n"), sum(col("__cp")).as("n_pos"))
    // everything below runs over <= nTiles rows
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wTop = org.apache.spark.sql.expressions.Window.orderBy(col("tile").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tiles
      .withColumn("__gt", sum(col("n_pos")).over(wAll))
      .withColumn("__nt", sum(col("n")).over(wAll))
      .withColumn("__cp", sum(col("n_pos")).over(wTop))
      .withColumn("__cn", sum(col("n")).over(wTop))
      .select(col("tile"), col("n"), col("n_pos"),
        when(col("__gt") > 0,
          round(col("__cp").cast("double") / col("__gt").cast("double"), 6))
          .as("cum_capture"),
        when(col("__gt") > 0,
          round((col("__cp").cast("double") / col("__cn").cast("double"))
            / (col("__gt").cast("double") / col("__nt").cast("double")), 6))
          .as("lift"))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for N
    * raters, the multi-annotator generalization of [[cohensKappa]]
    * (which only compares two): input is one row per RATING
    * (subject, category); every subject must carry the same number of
    * ratings n (the classic fixed-panel design — kappa is null when
    * panel sizes differ, not silently wrong).
    *
    * Exact integer core over the (subject, category) count table:
    * P̄ = (ΣΣ c_ij² − N·n) / (N·n·(n−1)) and P̄e = Σ_j t_j² / (N·n)²
    * with every square/product in decimal(38); the two ratios and
    * κ = (P̄ − P̄e)/(1 − P̄e) are fixed-shape double divisions at the
    * edge (decimal(38) can't hold the cross-multiplied closed form at
    * 1e12 rows — (Nn)²·ΣΣc² ~ 1e48), rounded 6 dp, same shapes the
    * oracle replays. Scale: one map-side-combined aggregation to the
    * cell table; everything after is |subjects|+|categories| rows.
    * Output: one row (subjects, ratings_per_subject, p_bar, p_e,
    * kappa). */
  def fleissKappa(df: DataFrame, subjectCol: String,
                  categoryCol: String): DataFrame = {
    // cells feeds the per-subject squares AND the category totals
    val cells = df.select(col(subjectCol).as("__s"),
        col(categoryCol).cast("string").as("__j"))
      .filter(col("__s").isNotNull && col("__j").isNotNull)
      .groupBy(col("__s"), col("__j"))
      .agg(count(lit(1)).as("__c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => cells.unpersist())
    val perSubject = cells.groupBy(col("__s"))
      .agg(sum(dec(col("__c")) * col("__c")).as("__ss"),
        sum(col("__c")).as("__n"))
    val subjAgg = perSubject.agg(
      count(lit(1)).as("__subjects"),
      min(col("__n")).as("__nmn"), max(col("__n")).as("__nmx"),
      sum(col("__ss")).as("__sumsq"),
      sum(col("__n")).as("__tot"))
    val catAgg = cells.groupBy(col("__j")).agg(sum(col("__c")).as("__tj"))
      .agg(sum(dec(col("__tj")) * col("__tj")).as("__sumtj2"))
    val nTot = dec(col("__tot"))
    val nPer = col("__nmn")
    val pBar = (col("__sumsq") - nTot).cast("double") /
      (nTot * (nPer - 1)).cast("double")
    val pE = col("__sumtj2").cast("double") / (nTot * nTot).cast("double")
    subjAgg.crossJoin(broadcast(catAgg)).select(
      col("__subjects").as("subjects"),
      when(col("__nmn") === col("__nmx"), col("__nmn"))
        .as("ratings_per_subject"),
      when(col("__nmn") === col("__nmx") && nPer > 1, round(pBar, 6)).as("p_bar"),
      round(pE, 6).as("p_e"),
      when(col("__nmn") === col("__nmx") && nPer > 1 && pE < 1.0,
        round((pBar - pE) / (lit(1.0) - pE), 6)).as("kappa"))
  }

  /** Isotonic (monotone non-decreasing) calibration of a binary-label
    * score via pool-adjacent-violators, computed in its minimax closed
    * form (Ayer et al. 1955; Robertson/Wright/Dykstra 1988 §1.2):
    * over score bins i, iso(i) = max_{a≤i} min_{b≥i} pooledRate(a..b).
    * The sequential PAV sweep and this closed form are the same
    * function; the closed form is ORDER-FREE, so it replays in any SQL
    * engine and never depends on partitioning. The output extends
    * [[calibrationBins]] with the isotonic fit — the post-hoc
    * calibrator (Platt's rival) a quality-scored corpus applies before
    * thresholding on predicted probabilities.
    *
    * Determinism: pooled rates are single double divisions of exact
    * long counts (identical bit patterns on every IEEE engine), so the
    * min/max lattice is exact; the fit rounds 6 dp at the edge.
    *
    * Scale: ONE data-sized aggregation to ≤ nBins rows; the minimax
    * triple join is nBins³ ≤ 8000 metadata rows. The monotone-fit
    * output is the nBins-row calibration table a serving layer
    * broadcasts — never a data-sized structure. */
  def isotonicCalibration(df: DataFrame, labelCol: String, scoreCol: String,
                          nBins: Int = 20): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"isotonicCalibration: nBins=$nBins outside [2,64]")
    val cells = df.select(col(scoreCol).cast("double").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos"))
      .filter(col("__s").isNotNull && col(labelCol).isNotNull
        && col("__s") >= 0 && col("__s") <= 1)
      .withColumn("bin",
        least(floor(col("__s") * nBins), lit(nBins - 1L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__pos")).as("n_pos"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => cells.unpersist())
    val spans = cells.select(col("bin").as("__a"))
      .crossJoin(cells.select(col("bin").as("__b")))
      .filter(col("__a") <= col("__b"))
      .join(cells, col("bin").between(col("__a"), col("__b")))
      .groupBy(col("__a"), col("__b"))
      .agg((sum(col("n_pos")).cast("double") / sum(col("n")).cast("double"))
        .as("__rate"))
    val iso = cells.select(col("bin").as("__i"))
      .join(spans, col("__a") <= col("__i") && col("__b") >= col("__i"))
      .groupBy(col("__i"), col("__a")).agg(min(col("__rate")).as("__mn"))
      .groupBy(col("__i")).agg(max(col("__mn")).as("__iso"))
    cells.join(iso, col("bin") === col("__i"))
      .select(col("bin"), col("n"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"),
        round(col("__iso"), 6).as("iso_fit"))
  }

  /** Split-conformal prediction interval (Papadopoulos et al. 2002;
    * Lei et al. 2018) around a per-category mean predictor: the
    * calibration set's ⌈(n+1)(1−α)⌉-th smallest absolute residual is
    * the one-size-fits-all half-width q̂ with finite-sample marginal
    * coverage ≥ 1−α, audited here on a held-out test set per category.
    * Output: (category, q_hat, n_test, n_covered, coverage).
    *
    * Determinism: the predictor is an exact-decimal mean rounded 6 dp;
    * residuals round 6 dp; q̂ is an EXACT order statistic (k-th
    * smallest via distinct-value prefix counts — no interpolation, no
    * percentile_approx). Every engine picks the identical residual.
    *
    * Scale: predictor = one aggregation to |categories| rows
    * (broadcast); q̂ = one aggregation to the distinct-residual table +
    * the 1024-bucket prefix-sum scheme ([[Ranking.valueCountsBefore]] —
    * no global sort, no data-sized window); the audit is a broadcast
    * join + one aggregation. Three passes, all map-side-combined. */
  def conformalInterval(train: DataFrame, calib: DataFrame, test: DataFrame,
                        catCol: String, yCol: String,
                        alpha: Double = 0.1): DataFrame =
    conformal(train, calib, test, catCol, yCol, alpha, byGroup = false)

  /** GROUP-CONDITIONAL split conformal ("Mondrian conformal", Vovk
    * 2012): [[conformalInterval]] computes ONE global q̂, which
    * guarantees only marginal coverage — a category with larger noise
    * silently under-covers while easy categories over-cover. This form
    * computes the ⌈(n_g+1)(1−α)⌉-th residual PER CATEGORY, restoring
    * the 1−α guarantee within every group. Output: (category, q_hat,
    * n_test, n_covered, coverage).
    *
    * Determinism: identical to the global form — exact decimal mean
    * predictor, 6-dp residuals, exact per-group order statistics via
    * the tagged 1024-bucket prefix scheme.
    *
    * Scale: the per-group q̂ comes from
    * [[Ranking.valueCountsBeforeByTag]] over the (category, residual)
    * distinct-count table — one pass, no per-category job fan-out; the
    * q̂ table is category-sized and broadcasts. */
  def conformalIntervalByGroup(train: DataFrame, calib: DataFrame,
                               test: DataFrame, catCol: String, yCol: String,
                               alpha: Double = 0.1): DataFrame =
    conformal(train, calib, test, catCol, yCol, alpha, byGroup = true)

  /** [[conformalIntervalByGroup]] when `byGroup`, else the one global q̂
    * of [[conformalInterval]]. */
  private def conformal(train: DataFrame, calib: DataFrame, test: DataFrame,
                        catCol: String, yCol: String, alpha: Double,
                        byGroup: Boolean): DataFrame = {
    require(alpha > 0 && alpha < 1, s"conformal interval: alpha=$alpha outside (0,1)")
    // the q̂ key: the category, or nothing for one global q̂
    val g = if (byGroup) Seq("__c") else Nil
    val pred = train.select(col(catCol).as("__c"),
        col(yCol).cast("decimal(28,6)").as("__y"))
      .filter(col("__c").isNotNull && col("__y").isNotNull)
      .groupBy(col("__c"))
      .agg(round(sum(col("__y")).cast("double") / count(lit(1)), 6).as("__pred"))
    val resid = calib.select(col(catCol).as("__c"),
        col(yCol).cast("double").as("__yv"))
      .filter(col("__c").isNotNull && col("__yv").isNotNull)
      .join(broadcast(pred), Seq("__c"))
      .select(g.map(col) :+ round(abs(col("__yv") - col("__pred")), 6).as("__r"): _*)
    // the distinct-residual counts feed three consumers (bounds probe,
    // n, prefix-sum pass): persist so the residuals aggregate once
    val counts = resid.groupBy((g :+ "__r").map(col): _*).agg(count(lit(1)).as("__cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => counts.unpersist())
    val nCal = counts.groupBy(g.map(col): _*).agg(sum(col("__cnt")).as("__n"))
    // k = min(n, ceil((n+1)(1-alpha))): the exact split-conformal rank
    val qhat = Ranking.countsBefore(counts, g, "__r", "__cnt")
      .join(broadcast(nCal), g)
      .withColumn("__k", least(col("__n"),
        ceil((col("__n") + 1) * lit(1.0 - alpha)).cast("long")))
      .filter(col("__before") < col("__k")
        && col("__before") + col("__cnt") >= col("__k"))
      .groupBy(g.map(col): _*).agg(min(col("__r")).as("q_hat"))
    test.select(col(catCol).as("__c"), col(yCol).cast("double").as("__yv"))
      .filter(col("__c").isNotNull && col("__yv").isNotNull)
      .join(broadcast(pred), Seq("__c"))
      .join(broadcast(qhat), g)
      .groupBy(col("__c"), col("q_hat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(round(abs(col("__yv") - col("__pred")), 6) <= col("q_hat"),
          1L).otherwise(0L)).as("n_covered"))
      .select(col("__c").as(catCol), col("q_hat"),
        col("n_test"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
  }

  /** Expected calibration error per segment: ECE = Σ_b (n_b/N)·|obs_b −
    * conf_b| over `nBins` equal-width score bins, computed independently
    * within each level of `groupCol` — the one-number-per-source audit
    * that catches a quality scorer which is calibrated globally but
    * systematically over-confident on one source (the per-bin curve is
    * [[calibrationBins]]; this is its roll-up, segmented). Output:
    * (segment, n, ece).
    *
    * Determinism: per-bin score mass accumulates in micro-longs; the
    * per-bin |obs − conf| terms re-quantize to micro before the
    * cross-bin weighted sum, so bin order can never reach the result;
    * one double division per output row at the edge, rounded 6 dp.
    *
    * Scale: ONE (segment, bin) map-side-combined aggregation, then one
    * segment-keyed aggregate of ≤ nBins rows per segment. */
  def eceBySegment(df: DataFrame, groupCol: String, labelCol: String,
                   scoreCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"eceBySegment: nBins=$nBins must be >= 2")
    val rows = df.select(col(groupCol).as("__g"),
        col(scoreCol).cast("double").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos"))
      .filter(col("__s").isNotNull && col(labelCol).isNotNull
        && col("__g").isNotNull && col("__s") >= 0 && col("__s") <= 1)
    val cells = rows
      .withColumn("__b", least(floor(col("__s") * nBins), lit(nBins - 1L)))
      .groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(round(col("__s") * 1e6, 0).cast("long")).as("__sm"),
        sum(col("__pos")).as("__np"))
    // per-bin gap in micro units: |np/n − sm/1e6/n|·1e6 = |np·1e6 − sm|/n
    cells
      .withColumn("__gap", round(abs(col("__np") * lit(1000000L) - col("__sm"))
        .cast("double") / col("__n").cast("double"), 0).cast("long"))
      .groupBy(col("__g"))
      .agg(sum(col("__n")).as("n"),
        round(sum(col("__gap") * col("__n")).cast("double")
          / sum(col("__n")).cast("double") / 1e6, 6).as("ece"))
      .select(col("__g").as(groupCol), col("n"), col("ece"))
  }

  /** Murphy decomposition of the Brier score per segment (Murphy 1973):
    * over `nBins` score bins, BS = REL − RES + UNC with
    * reliability REL = Σ n_b(conf_b − obs_b)²/N (calibration error,
    * squared — [[eceBySegment]]'s L2 sibling), resolution
    * RES = Σ n_b(obs_b − base)²/N (how much the score separates
    * outcomes), and uncertainty UNC = base(1 − base) (the base rate's
    * irreducible noise). The decomposition says WHY a Brier score is
    * bad: miscalibration (fix with [[isotonicCalibration]]) vs no
    * resolution (the score is uninformative — no recalibration helps).
    * Output: (segment, n, brier, reliability, resolution, uncertainty).
    *
    * Determinism: binned-mean Brier (computed FROM the decomposition
    * identity, so the three parts reconcile exactly); per-bin gap and
    * resolution terms are fixed-shape doubles of exact integer counts,
    * micro-quantized before the cross-bin sums; base rate is one exact
    * division.
    *
    * Scale: one (segment, bin) map-side-combined aggregation + windows
    * over the ≤ nBins-row per-segment cell table. */
  def brierDecomposition(df: DataFrame, groupCol: String, labelCol: String,
                         scoreCol: String, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 2, s"brierDecomposition: nBins=$nBins must be >= 2")
    val rows = df.select(col(groupCol).as("__g"),
        col(scoreCol).cast("double").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos"))
      .filter(col("__s").isNotNull && col(labelCol).isNotNull
        && col("__g").isNotNull && col("__s") >= 0 && col("__s") <= 1)
    val cells = rows
      .withColumn("__b", least(floor(col("__s") * nBins), lit(nBins - 1L)))
      .groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(round(col("__s") * 1e6, 0).cast("long")).as("__sm"),
        sum(col("__pos")).as("__np"))
    val wg = Window.partitionBy(col("__g"))
    val withTotals = cells
      .withColumn("__nt", sum(col("__n")).over(wg))
      .withColumn("__npt", sum(col("__np")).over(wg))
      // conf and obs per bin; base per segment — single divisions of ints
      .withColumn("__conf", col("__sm").cast("double") / col("__n") / 1e6)
      .withColumn("__obs", col("__np").cast("double") / col("__n"))
      .withColumn("__base", col("__npt").cast("double") / col("__nt"))
      // per-bin REL and RES terms in micro units (weighted by n_b)
      .withColumn("__relT", round((col("__conf") - col("__obs"))
        * (col("__conf") - col("__obs")) * col("__n") * 1e6, 0).cast("long"))
      .withColumn("__resT", round((col("__obs") - col("__base"))
        * (col("__obs") - col("__base")) * col("__n") * 1e6, 0).cast("long"))
    withTotals.groupBy(col("__g"), col("__nt"), col("__base"))
      .agg(sum(col("__relT")).as("__rel"), sum(col("__resT")).as("__res"))
      .withColumn("reliability",
        round(col("__rel").cast("double") / col("__nt") / 1e6, 6))
      .withColumn("resolution",
        round(col("__res").cast("double") / col("__nt") / 1e6, 6))
      .withColumn("uncertainty",
        round(col("__base") * (lit(1.0) - col("__base")), 6))
      .select(col("__g").as(groupCol), col("__nt").as("n"),
        round(col("reliability") - col("resolution") + col("uncertainty"), 6)
          .as("brier"),
        col("reliability"), col("resolution"), col("uncertainty"))
  }

  /** NDCG@k of a ranked retrieval table with binary relevance
    * (Järvelin & Kekäläinen 2002): per query,
    * DCG = Σ_{r≤k} rel_r / log₂(r+1) against the ideal ordering of the
    * same retrieved list — the ranking-quality readout for an ANN /
    * search stack where [[aucRoc]]'s global number can't see per-query
    * position errors. Input is any (query, rank, relevance) table (e.g.
    * a kNN join's output); output one row per query.
    *
    * Determinism: the rank discounts 1/log₂(r+1) quantize ONCE, here in
    * driver code, to integer micro-units inlined into both the plan and
    * any replaying oracle — so DCG/IDCG are exact integer sums (never a
    * per-engine libm log), and NDCG is one double division rounded 6 dp.
    *
    * Scale: one map-side-combined aggregation per query key over the
    * (already bounded) top-k table; the discount table is k literals. */
  def ndcgAtK(ranked: DataFrame, queryCol: String, rankCol: String,
              relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"ndcgAtK: k=$k outside [1,1000]")
    val disc = discountMicros(k)
    val prefix = disc.scanLeft(0L)(_ + _).tail // prefix(i) = ideal DCG of i hits
    val discCol = element_at(
      array(disc.map(lit): _*), col("__r").cast("int"))
    val idealCol = element_at(
      array(prefix.map(lit): _*), col("__nrel").cast("int"))
    ranked.select(col(queryCol).as("__q"), col(rankCol).cast("long").as("__r"),
        when(col(relCol).cast("boolean"), 1L).otherwise(0L).as("__rel"))
      .filter(col("__r").between(1, k))
      .groupBy(col("__q"))
      .agg(sum(col("__rel") * discCol).as("__dcg"),
        sum(col("__rel")).as("__nrel"))
      .select(col("__q").as(queryCol), col("__nrel").as("n_rel"),
        when(col("__nrel") === 0, lit(0.0))
          .otherwise(round(col("__dcg").cast("double")
            / idealCol.cast("double"), 6)).as("ndcg"))
  }

  /** The micro-unit rank discounts ndcgAtK inlines: round(1e6·ln2/ln(r+1))
    * for r = 1..k. Public so a generated oracle embeds the identical
    * integers. */
  def discountMicros(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e6 * math.log(2.0) / math.log(r + 1.0)))
}
