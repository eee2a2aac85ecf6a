package graft.pipelines

import graft.metrics.{PrivacyMetrics, PrivacyReport}
import graft.ml.{ClusteringAnonymizer, ClusteringResult}
import graft.ops.{Generalization, KAnonymity, TCloseness}
import graft.util.Interpreted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a pipeline releases: the anonymized rows, the privacy report and
  * NCP. The pipelines below are the reference's three entry-point scripts
  * made composable (SURVEY §3 E1/E2/E3). Each is a pure DataFrame → result
  * function; the anonymized DataFrame is cached before the metric fan-out,
  * [[PrivacyMetrics.evaluate]]'s two aggregations (the original, and the
  * release's class table), so they don't recompute the suppression (SURVEY
  * §4 "metric fan-out recomputation"). perfbench `--trace 1` on the Adult
  * fixture at seed 42: E1 runs 8 jobs, E3 24 and E2 20 (its KMeans fit 8,
  * the Lloyd rounds on the driver — [[graft.ml.GraftKMeans]]).
  * E3's recheck runs 4. At that size the jobs are not the cost: a
  * warm compiled pass spent its time compiling 180–190 Janino classes that
  * Spark's 100-entry codegen cache could not keep (E1 31, E3 72, the
  * recheck 16, E2 56). So each entry point runs a small input
  * [[graft.util.Interpreted]] (the same jobs; a warm pass compiles next to
  * nothing, 2 classes in InterpretedSpec) and returns every frame on the
  * caller's session; the release cached inside stays shared.
  *
  * `emdBasis` (E3 only): the sensitive distribution the t-closeness filter
  * measured classes against — the per-position counts of the k-anonymized
  * binned input, held on the driver as the filter collected them. The
  * violation recheck must reuse it: suppression
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
  def run(df: DataFrame, qis: Seq[String], k: Int): AnonymizationResult =
    runWithin(df, qis, k, Interpreted.fits)

  /** [[run]] with the interpreted route as an argument, so a test can send
    * one input through either route. */
  private[graft] def runWithin(df: DataFrame, qis: Seq[String], k: Int,
                               route: DataFrame => Boolean): AnonymizationResult =
    Interpreted(df, route) { (in, home) =>
      val anonymized = KAnonymity.suppress(in, qis, k).cache()
      val (report, ncp) = PrivacyMetrics.evaluate(in,
        KAnonymity.groupSizes(anonymized, qis), qis, k)
      AnonymizationResult(home(anonymized), report, ncp)
    }
}

object ClusteringPipeline {
  /** E2 (clustering-anon.py): label-encode + scale + KMeans, per-cluster
    * min-max generalization, metrics against the cluster grouping. */
  def run(df: DataFrame, numericCols: Seq[String], categoricalCols: Seq[String],
          nClusters: Int, seed: Long = 42L): (ClusteringResult, PrivacyReport, Double) =
    runWithin(df, numericCols, categoricalCols, nClusters, seed, Interpreted.fits)

  private[graft] def runWithin(df: DataFrame, numericCols: Seq[String],
                               categoricalCols: Seq[String], nClusters: Int, seed: Long,
                               route: DataFrame => Boolean)
      : (ClusteringResult, PrivacyReport, Double) =
    Interpreted(df, route) { (in, home) =>
      val res = ClusteringAnonymizer.anonymize(in, numericCols, categoricalCols,
        nClusters, seed)
      val clustered = res.clustered.cache()
      val (report, ncp) = PrivacyMetrics.evaluate(in,
        Generalization.minMaxRanges(clustered, "cluster", numericCols), numericCols, k = 1)
      (ClusteringResult(home(clustered), home(res.generalized)), report, ncp)
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
          k: Int, t: Double, binCols: Map[String, Int] = Map.empty): AnonymizationResult =
    runWithin(df, qis, sensitiveOrdinal, k, t, binCols, Interpreted.fits)

  private[graft] def runWithin(df: DataFrame, qis: Seq[String], sensitiveOrdinal: String,
                               k: Int, t: Double, binCols: Map[String, Int],
                               route: DataFrame => Boolean): AnonymizationResult =
    Interpreted(df, route) { (in, home) =>
      val binned = Generalization.equalWidthBins(in, binCols.toSeq)
      val (filtered, basis) = TCloseness.filterWithBasis(binned, qis, sensitiveOrdinal, k, t)
      val anonymized = filtered.cache()
      val (report, ncp) = PrivacyMetrics.evaluate(binned,
        KAnonymity.groupSizes(anonymized, qis), qis, k)
      AnonymizationResult(home(anonymized), report, ncp, emdBasis = Some(basis))
    }

  /** The reference's own self-check (t-closeness.py:134-143): after the
    * filter, zero groups may violate t — against the SAME distribution
    * basis the filter used (see [[AnonymizationResult.emdBasis]]). */
  def violations(result: AnonymizationResult, qis: Seq[String],
                 sensitiveOrdinal: String, t: Double): Long =
    violationsWithin(result, qis, sensitiveOrdinal, t, Interpreted.fits)

  private[graft] def violationsWithin(result: AnonymizationResult, qis: Seq[String],
                                      sensitiveOrdinal: String, t: Double,
                                      route: DataFrame => Boolean): Long =
    Interpreted(result.anonymized, route) { (in, _) =>
      TCloseness.violationCount(in, qis, sensitiveOrdinal, t, reference = result.emdBasis)
    }
}
