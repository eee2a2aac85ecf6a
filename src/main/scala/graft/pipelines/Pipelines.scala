package graft.pipelines

import graft.metrics.{PrivacyMetrics, PrivacyReport}
import graft.ml.{ClusteringAnonymizer, ClusteringResult}
import graft.ops.{Generalization, KAnonymity, TCloseness}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a pipeline releases: the anonymized rows, the privacy report and
  * NCP. The pipelines below are the reference's three entry-point scripts
  * made composable (SURVEY §3 E1/E2/E3). Each is a pure DataFrame → result
  * function; the anonymized DataFrame is cached before the metric fan-out,
  * [[PrivacyMetrics.evaluate]]'s two aggregations (the original, and the
  * release's class table), so they don't recompute the suppression (SURVEY
  * §4 "metric fan-out recomputation"). perfbench `--trace 1` on the Adult
  * fixture at seed 42: E1 runs 8 jobs, E3 24 and E2 43.
  *
  * `emdBasis` (E3 only): the sensitive distribution the t-closeness filter
  * measured classes against — the per-position counts of the k-anonymized
  * binned input, as the filter computed them (held on the driver on the
  * class-table route). The violation recheck must reuse it: suppression
  * shifts the surviving table's own distribution, so rechecking against
  * the OUTPUT's distribution can flag boundary classes the filter
  * correctly admitted. */
final case class AnonymizationResult(
    anonymized: DataFrame,
    report: PrivacyReport,
    ncp: Double,
    emdBasis: Option[TCloseness.EmdBasis] = None)

object NaiveSuppressionPipeline {
  /** E1 (naive-suppresion.py): k-anonymity by record suppression over the
    * QI set, then the printed metric block. */
  def run(df: DataFrame, qis: Seq[String], k: Int): AnonymizationResult = {
    val anonymized = KAnonymity.suppress(df, qis, k).cache()
    val (report, ncp) = PrivacyMetrics.evaluate(df,
      KAnonymity.groupSizes(anonymized, qis), qis, k)
    AnonymizationResult(anonymized, report, ncp)
  }
}

object ClusteringPipeline {
  /** E2 (clustering-anon.py): label-encode + scale + KMeans, per-cluster
    * min-max generalization, metrics against the cluster grouping. */
  def run(df: DataFrame, numericCols: Seq[String], categoricalCols: Seq[String],
          nClusters: Int, seed: Long = 42L): (ClusteringResult, PrivacyReport, Double) = {
    val res = ClusteringAnonymizer.anonymize(df, numericCols, categoricalCols,
      nClusters, seed)
    val clustered = res.clustered.cache()
    val (report, ncp) = PrivacyMetrics.evaluate(df,
      Generalization.minMaxRanges(clustered, "cluster", numericCols), numericCols, k = 1)
    (res, report, ncp)
  }
}

object TClosenessPipeline {
  /** E3 (t-closeness.py, INTENDED semantics — SURVEY §3): equal-width-bin
    * the numeric QIs, k-anonymity, then suppress groups whose sensitive
    * distribution sits further than t (1-D EMD) from the global one.
    *
    * `binCols` maps numeric QI -> bin count (age->5, capital->3 in the
    * reference); binned columns REPLACE the originals in the QI set, like
    * the reference's in-place `df_qi['age'] = pd.cut(...)`.
    */
  def run(df: DataFrame, qis: Seq[String], sensitiveOrdinal: String,
          k: Int, t: Double, binCols: Map[String, Int] = Map.empty): AnonymizationResult = {
    val binned = Generalization.equalWidthBins(df, binCols.toSeq)
    val (filtered, basis) = TCloseness.filterWithBasis(binned, qis, sensitiveOrdinal, k, t)
    val anonymized = filtered.cache()
    val (report, ncp) = PrivacyMetrics.evaluate(binned,
      KAnonymity.groupSizes(anonymized, qis), qis, k)
    AnonymizationResult(anonymized, report, ncp, emdBasis = Some(basis))
  }

  /** The reference's own self-check (t-closeness.py:134-143): after the
    * filter, zero groups may violate t — against the SAME distribution
    * basis the filter used (see [[AnonymizationResult.emdBasis]]). */
  def violations(result: AnonymizationResult, qis: Seq[String],
                 sensitiveOrdinal: String, t: Double): Long =
    TCloseness.violationCount(result.anonymized, qis, sensitiveOrdinal, t,
      reference = result.emdBasis)
}
