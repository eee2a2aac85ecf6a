package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-anonymity via record suppression.
  *
  * Reference semantics: naive-suppresion.py:31-40 (group QI combinations,
  * keep rows whose combination occurs >= k times) and
  * Archived/data-anonymity.py:48-74 (audit-only variant: measure k, surface
  * at-risk groups and the records in them).
  *
  * Scale notes: `suppress` is a single shuffle (hash partition on the QI
  * columns feeding a window count) with no join and no driver collection; at
  * 100 TB the QI hash partitioning distributes evenly unless one QI combo is
  * a heavy hitter, in which case AQE skew handling applies (the filter is
  * pushed after a window, so there is no broadcast side to blow up).
  * `suppressSemiJoin` is the two-shuffle agg + semi-join formulation; prefer
  * it when the frequent-key set is small enough to broadcast, because the
  * probe side then needs no shuffle at all.
  */
object KAnonymity {

  /** Keep only rows whose QI equivalence class has at least k members.
    * One shuffle: window count over the QI partition, then filter.
    */
  def suppress(df: DataFrame, qis: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(qis.map(col): _*)
    df.withColumn("__grp_cnt", count(lit(1)).over(w))
      .filter(col("__grp_cnt") >= k)
      .drop("__grp_cnt")
  }

  /** Aggregate + broadcast-left-semi-join formulation of `suppress`.
    * Matches the reference's merge-with-frequent-combinations idiom
    * (naive-suppresion.py:40); the pandas `merge(how='inner')` against a
    * deduplicated key table is a left-semi join in relational terms.
    * The join is null-safe: `groupBy` counts a NULL-QI class like any
    * other, so a plain USING join would drop it even at >= k rows.
    */
  def suppressSemiJoin(df: DataFrame, qis: Seq[String], k: Int): DataFrame = {
    val frequent = df.groupBy(qis.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= k)
      .drop("__cnt")
    // no forced broadcast: the frequent-key set is data-dependent (for
    // fine-grained QIs it approaches the group count); Catalyst/AQE
    // auto-broadcasts when it fits under the threshold
    NullSafe.semi(df, frequent, qis)
  }

  /** Equivalence-class sizes: one row per distinct QI combination. */
  def groupSizes(df: DataFrame, qis: Seq[String]): DataFrame =
    df.groupBy(qis.map(col): _*).agg(count(lit(1)).as("grp_cnt"))

  /** Groups violating k (audit mode, Archived/data-anonymity.py:57). */
  def atRiskGroups(df: DataFrame, qis: Seq[String], k: Int): DataFrame =
    groupSizes(df, qis).filter(col("grp_cnt") < k)

  /** Records belonging to at-risk groups, with the group size attached
    * (true inner join — the right side carries the `grp_cnt` payload;
    * Archived/data-anonymity.py:70). The join is null-safe: a NULL-QI
    * class below k is at risk like any other.
    */
  def vulnerableRecords(df: DataFrame, qis: Seq[String], k: Int): DataFrame =
    // at-risk groups are MOST groups when QIs are fine-grained (the
    // audit's common case) — forcing a broadcast would OOM the driver;
    // let the planner choose
    NullSafe.join(df, atRiskGroups(df, qis, k), qis, "inner")
}
