package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The privacy-evaluation metric block every reference script prints:
  * min/max group size, k satisfied, uniqueness rate, re-identification risk,
  * suppression rate, NCP (naive-suppresion.py:42-83, t-closeness.py:179-234,
  * clustering-anon.py:58-92).
  *
  * The reference's five passes collapse into TWO aggregations, one SQL
  * execution each: the original's row and distinct counts, and the
  * release's class table for the sizes and released distinct counts. Risk
  * uses the closed form mean_records(1/grpSize) = nGroups / nRows.
  */
final case class PrivacyReport(
    originalRows: Long,
    anonymizedRows: Long,
    nGroups: Long,
    kMin: Long,
    kMax: Long,
    kSatisfied: Boolean,
    uniquenessRate: Double,        // singleton groups / nGroups (t-closeness.py:211-214)
    uniquenessRateRecords: Double, // singleton groups / nRows  (naive-suppresion.py:60-62)
    reidentificationRisk: Double,  // mean over records of 1/groupSize
    suppressionRate: Double)

object PrivacyMetrics {

  /** The report and NCP of a release of `original`, at `k`. `classes` is
    * the release's class table: one row per equivalence class, its size
    * `grp_cnt` and its released value of each `ncpCols` column
    * (`KAnonymity.groupSizes` of the released rows, or
    * `Generalization.minMaxRanges`). NCP, the per-column fraction of
    * distinct values lost averaged over `ncpCols` (naive-suppresion.py:76-83),
    * is exact on it: every released row carries its class's value and every
    * class has a row, so the distinct counts (NULL ignored) are the rows'. */
  def evaluate(original: DataFrame, classes: DataFrame, ncpCols: Seq[String],
               k: Int): (PrivacyReport, Double) = {
    val distincts = ncpCols.map(c => countDistinct(col(c)))
    val o = original.agg(count(lit(1)), distincts: _*).head()
    val a = classes.agg(
      coalesce(sum("grp_cnt"), lit(0L)),
      (Seq(count(lit(1)),
        coalesce(min("grp_cnt"), lit(0L)),
        coalesce(max("grp_cnt"), lit(0L)),
        coalesce(sum(when(col("grp_cnt") === 1, 1L).otherwise(0L)), lit(0L))) ++
        distincts): _*).head()
    val origRows = o.getLong(0)
    val Seq(rows, groups, kMin, kMax, singles) = (0 until 5).map(a.getLong)
    val report = PrivacyReport(
      originalRows = origRows,
      anonymizedRows = rows,
      nGroups = groups,
      kMin = kMin,
      kMax = kMax,
      kSatisfied = groups == 0 || kMin >= k,
      uniquenessRate = if (groups > 0) singles.toDouble / groups else 0.0,
      uniquenessRateRecords = if (rows > 0) singles.toDouble / rows else 0.0,
      reidentificationRisk = if (rows > 0) groups.toDouble / rows else 0.0,
      suppressionRate = if (origRows > 0) (origRows - rows).toDouble / origRows else 0.0)
    val perCol = ncpCols.indices.map { i =>
      val ov = o.getLong(1 + i)
      if (ov > 0) (ov - a.getLong(5 + i)).toDouble / ov else 0.0
    }
    (report, if (perCol.isEmpty) 0.0 else perCol.sum / perCol.size)
  }
}
