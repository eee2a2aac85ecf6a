package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ordering WITHOUT a single-partition sort — the
  * rank-offset scheme shared by [[Dedup.sortedNeighborPairs]] and the
  * percentile-normalization queries.
  *
  * A `row_number() OVER (ORDER BY ...)` window forces every row through
  * ONE task — the classic scale-killer. This helper instead:
  *
  *  1. ranks WITHIN deterministic buckets (`bucketExpr`), all buckets in
  *     parallel behind one bucket-keyed exchange;
  *  2. prefix-sums the bucket row-counts (a #buckets-row table —
  *     metadata scale, the only serial step) into starting offsets;
  *  3. broadcast-joins the offsets back: bucket rank + offset = the
  *     exact global row number.
  *
  * Every form runs on ONE core ([[rankOffset]]); a per-GROUP form runs
  * the scheme within each group, and a global form is its no-group case.
  *
  * CONTRACT: `bucketExpr` must be MONOTONE in the lexicographic
  * `orderCols` order (a coarse prefix: b(k1) <= b(k2) whenever k1 <= k2
  * — leading digits of a padded key, `floor(x / width)` of the leading
  * numeric key, a date's year-month). Monotonicity makes global order =
  * bucket order refined by in-bucket order; it is the caller's
  * responsibility — checking it would cost the sort this avoids.
  * `orderCols` must be a TOTAL order (append a unique id as the last
  * key), otherwise ties rank nondeterministically.
  *
  * NULL keys: a row whose FIRST order key is NULL is dropped (its
  * position is undefined), and so is a row whose group or tag key is
  * NULL (the offsets join back on the group key, and NULL matches
  * nothing). Filter or coalesce such keys upstream to keep the rows.
  */
object Ranking {

  /** Append `outCol` = the 1-based global row number of each row in
    * `orderCols` order. */
  def globalRowNumber(df: DataFrame, orderCols: Seq[String],
                      bucketExpr: Column, outCol: String): DataFrame =
    groupRowNumber(df, Nil, orderCols, bucketExpr, outCol)

  /** Per-GROUP [[globalRowNumber]]: `outCol` = the 1-based row number
    * within each `groupCols` group in `orderCols` order, without
    * funneling a hot group through one task. `bucketExpr = lit(0)`
    * degrades to one window per group (fine when groups are small, the
    * n² surface elsewhere is the bottleneck, or the caller has no
    * monotone prefix). No group columns: the global form. */
  def groupRowNumber(df: DataFrame, groupCols: Seq[String],
                     orderCols: Seq[String], bucketExpr: Column,
                     outCol: String): DataFrame =
    rankOffset(df, groupCols, orderCols, bucketExpr, row_number(), count(lit(1)),
      outCol, "__rk")

  /** Append `outCol` = the INCLUSIVE global prefix sum of `valueCol` in
    * `orderCols` order — the distributed running total behind exact
    * CDFs (ksTest) and cumulative ledgers. Shape: one bucket-keyed
    * exchange for the in-bucket running sums, a bucket-count-sized
    * offset table (the only serial step), broadcast back. */
  def globalPrefixSum(df: DataFrame, orderCols: Seq[String],
                      bucketExpr: Column, valueCol: String,
                      outCol: String): DataFrame =
    groupPrefixSum(df, Nil, orderCols, bucketExpr, valueCol, outCol)

  /** Per-GROUP [[globalPrefixSum]]: `outCol` = the inclusive running sum
    * of `valueCol` within each `groupCols` group in `orderCols` order.
    * No group columns: the global form. */
  def groupPrefixSum(df: DataFrame, groupCols: Seq[String],
                     orderCols: Seq[String], bucketExpr: Column,
                     valueCol: String, outCol: String): DataFrame =
    rankOffset(df, groupCols, orderCols, bucketExpr, sum(col(valueCol)),
      sum(col(valueCol)), outCol, "__ps")

  /** Append `__before` = the number of UNITS strictly smaller than
    * each row's `valueCol`, given a (value, per-value count) table —
    * the shared preamble of every exact rank statistic built on the
    * distinct-value counts (AUC midranks, quantile tiles, RFM scores):
    * [[valueBuckets]], cumulative counts, minus the row's own count.
    * The input must be value-DISTINCT (one row per value). */
  def valueCountsBefore(counts: DataFrame, valueCol: String,
                        countCol: String): DataFrame =
    countsBefore(counts, Nil, valueCol, countCol)

  /** [[valueCountsBefore]] for SEVERAL metrics in ONE pipeline: the input
    * carries a `tagCol` naming which metric each (value, count) row
    * belongs to, and every stage runs per tag — one bounds aggregate (a
    * |tags|-row broadcast), one bucketed grouped prefix sum, one output.
    * Folding k metrics into one tagged pass replaces k parallel
    * exchange+window+broadcast pipelines with one — the fixed per-stage
    * cost (task setup, closure deserialization, tiny-table windows) is
    * what dominates rank preambles over reduced tables, so stage count,
    * not row count, is the bill (measured on q222: three pipelines =
    * ~18 stages for a 10k-row input). Input must be (tag, value)-DISTINCT. */
  def valueCountsBeforeByTag(counts: DataFrame, tagCol: String,
                             valueCol: String, countCol: String): DataFrame =
    countsBefore(counts, Seq(tagCol), valueCol, countCol)

  /** [[valueCountsBeforeByTag]] over any number of tag columns (none: the
    * global [[valueCountsBefore]]). */
  private[ops] def countsBefore(counts: DataFrame, tagCols: Seq[String],
                                valueCol: String, countCol: String): DataFrame = {
    val (withB, bucket) = valueBuckets(counts, valueCol, tagCols)
    groupPrefixSum(withB, tagCols, Seq(valueCol), bucket, countCol, "__cumt")
      .withColumn("__before", col("__cumt") - col(countCol))
      .drop("__bmn", "__bmx", "__cumt")
  }

  /** `df` with the bounds of `valueCol` (per `groupCols` group) from a
    * 1-row-per-group min/max probe broadcast back, and the bucket
    * expression over them: 1024 equal-width buckets, a monotone coarse
    * prefix of the value order (the [[rankOffset]] contract), with a
    * one-value domain in bucket 0. The two bounds columns ride along in
    * the frame; project them away before they reach an output. */
  private[ops] def valueBuckets(df: DataFrame, valueCol: String,
                                groupCols: Seq[String] = Nil): (DataFrame, Column) = {
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol)).as("__bmn"), max(col(valueCol)).as("__bmx"))
    val width = (col("__bmx") - col("__bmn")) / lit(1024.0)
    (df.join(broadcast(bounds), groupCols),
      when(width > 0, least(floor((col(valueCol) - col("__bmn")) / width), lit(1023L)))
        .otherwise(lit(0L)))
  }

  /** The rank-offset core: `outCol` = `inBucket` (a running window
    * function: `row_number()`, a running `sum`) over each (group, bucket)
    * in `orderCols` order, plus the sum of `total` over the group's
    * earlier buckets — a prefix sum over the (group, bucket)-sized totals
    * table, broadcast back. Scratch columns are prefixed `tmp`: `__rk`
    * for row numbers, `__ps` for sums, so a plan names which form ran
    * (PlanShapeSpec's pins read the bucket column's name). */
  private def rankOffset(df: DataFrame, groupCols: Seq[String],
                         orderCols: Seq[String], bucketExpr: Column,
                         inBucket: Column, total: Column, outCol: String,
                         tmp: String): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val Seq(b, r, n, o) = Seq("b", "r", "n", "o").map(tmp + _)
    val gc = groupCols.map(col)
    val base = df.filter(col(orderCols.head).isNotNull).withColumn(b, bucketExpr)
    val inW = Window.partitionBy(gc :+ col(b): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val offW = Window.partitionBy(gc: _*).orderBy(col(b))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(gc :+ col(b): _*).agg(total.as(n))
      .withColumn(o, coalesce(sum(col(n)).over(offW), lit(0L)))
      .drop(n)
    base.withColumn(r, inBucket.over(inW))
      .join(broadcast(offsets), groupCols :+ b)
      .withColumn(outCol, col(r) + col(o))
      .drop(b, r, o)
  }
}
