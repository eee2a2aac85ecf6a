package graft.ops

import graft.QueryCleanup
import graft.functions.EmdAggregator
import graft.util.{Interpreted, Truncate}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** t-closeness: per-equivalence-class Earth Mover's Distance of the
  * sensitive-attribute distribution against the dataset-wide distribution,
  * then suppression of groups with EMD > t. We implement the *intended*
  * semantics of t-closeness.py (group vs. global distribution, its
  * violation counter at :187-208); its main loop (:42-121) compares each
  * group with itself (SURVEY §3), which we do not replicate.
  *
  * Every EMD entry point runs on one SPARSE CLASS TABLE: one row per QI
  * class holding its size and its (position, count) entries, from one cell
  * aggregation and one class aggregation. The reference distribution (the
  * basis, at most [[MaxOrdinalDomain]] positions) is held on the driver,
  * and a class's EMD is [[graft.functions.EmdAggregator.closedForm]], the
  * loop q55's aggregator runs too. Width costs only a longer per-class
  * loop: nothing is densified, and no plan holds a window.
  *
  * NULL rule: a NULL position has no ground distance. A class holding one
  * has a NULL EMD, as does every class once the basis holds one; no filter
  * releases a class whose EMD is NULL.
  *
  * Positions are numeric ([[ordinal]] encodes a categorical attribute as
  * t-closeness.py:62-67 does). */
object TCloseness {

  /** Widest domain [[ordinal]] will encode and widest basis an EMD is
    * measured against. Both are collected to the driver, so the bound
    * stands between a mistaken high-cardinality column and a driver OOM;
    * the reference's domain is 2. */
  val MaxOrdinalDomain = 10000

  /** Alphabetical ordinal encoding of a categorical column, matching the
    * reference's sorted-unique `label_to_pos` (t-closeness.py:62-63): the
    * sorted domain is collected and broadcast-joined as a dictionary (a
    * dense_rank over a global window would funnel through one task).
    * Ordering is on the column's NATIVE type (a string sort would put
    * 10 < 2); the join key is the string rendering, Spark's own cast. The
    * collect is LIMIT-capped (TakeOrdered), so a mistakenly
    * high-cardinality column fails fast instead of OOMing the driver. */
  def ordinal(df: DataFrame, c: String, outCol: String): DataFrame =
    // a small cached input runs interpreted (a file scan, q27's, stays
    // compiled); the frame returned is on df's session
    Interpreted(df) { (in, home) =>
      val spark = in.sparkSession
      import spark.implicits._
      val values = in.select(col(c)).distinct().orderBy(col(c))
        .limit(MaxOrdinalDomain + 1)
        .select(col(c).cast("string")).as[String].collect()
      require(values.length <= MaxOrdinalDomain,
        s"TCloseness.ordinal: column '$c' has > $MaxOrdinalDomain distinct " +
          "values — not an ordinal sensitive attribute. Bin it first " +
          "(Generalization.binEquiWidth / binEdges) and ordinal-encode the bins.")
      val dict = values.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toSeq
        .toDF("__ord_k", outCol)
      home(in.join(broadcast(dict), col(c).cast("string") === col("__ord_k"))
        .drop("__ord_k"))
    }

  /** The sensitive distribution an EMD is measured against: per-position
    * row counts in position order (zero counts left out), and the rows at a
    * NULL position. A filter's basis is its k-anonymized input's
    * distribution; a recheck of its output must use it, not the output's
    * own distribution (see [[groupEmdAgainst]]). */
  final case class EmdBasis(counts: IndexedSeq[(Double, Long)], nulls: Long = 0L)

  /** One row per group: QI columns + `emd` (double) against `df`'s own
    * distribution, whose basis is collected at construction. `posCol` is
    * the numeric sensitive-position column. */
  def groupEmd(df: DataFrame, qis: Seq[String], posCol: String): DataFrame =
    emdAgainst(df, basisOf(rowPositions(df, posCol)), qis, posCol)

  /** [[groupEmd]] against `referenceDf`'s distribution, as a recheck of
    * suppressed output needs (its own distribution has shifted). EAGER: the
    * basis and a guard run at construction — a df position outside the
    * reference would understate EMD, so it is an error. */
  def groupEmdAgainst(df: DataFrame, referenceDf: DataFrame, qis: Seq[String],
                      posCol: String): DataFrame = {
    val basis = basisOf(rowPositions(referenceDf, posCol))
    requireCovered(df, posCol, basis)
    emdAgainst(df, basis, qis, posCol)
  }

  private def emdAgainst(df: DataFrame, basis: EmdBasis, qis: Seq[String],
                         posCol: String): DataFrame =
    classTable(df, qis, posCol).select(qis.map(col) :+ emdOf(basis).as("emd"): _*)

  /** t-closeness for CATEGORICAL sensitive attributes: per-group TOTAL
    * VARIATION distance (the t-closeness paper's "equal distance" ground
    * metric for nominal attributes, where EMD degenerates to
    * TV = ½ Σ_v |p_v − q_v|) against the dataset-wide distribution. No
    * ordinal encoding required — values never need an order.
    *
    * Scale: one cell aggregation over the raw table; the global
    * distribution, densify, and the absolute-difference sum run over the
    * |groups|×|domain| cell table with the tiny domain broadcast.
    */
  def groupTv(df: DataFrame, qis: Seq[String], sensitiveCol: String): DataFrame = {
    val qiCols = qis.map(col)
    val cell = df.groupBy(qiCols :+ col(sensitiveCol): _*)
      .agg(count(lit(1)).as("__cnt"))
    val globCnt = cell.groupBy(col(sensitiveCol)).agg(sum("__cnt").as("__gcnt"))
    val glob = globCnt.crossJoin(broadcast(globCnt.agg(sum("__gcnt").as("__tot"))))
      .withColumn("__q", col("__gcnt") / col("__tot"))
      .select(col(sensitiveCol), col("__q"))
    val groups = cell.select(qiCols: _*).distinct()
    // densify with <=> keys: NULL QI and NULL sensitive values are real
    // cells, and a plain `=` join would zero their counts while __q still
    // carries their mass
    val dense = NullSafe.join(groups.crossJoin(broadcast(glob)), cell,
        qis :+ sensitiveCol, "left")
      .na.fill(0L, Seq("__cnt"))
    val wg = Window.partitionBy(qiCols: _*)
    dense
      .withColumn("__p", col("__cnt") / sum("__cnt").over(wg))
      .groupBy(qiCols: _*)
      .agg((sum(abs(col("__p") - col("__q"))) / 2).as("tv"))
  }

  /** [[groupEmd]] via the typed [[graft.functions.EmdAggregator]] (q55):
    * one shuffle of per-group position->count maps, EMD in finish() by the
    * class table's loop against the driver-collected distribution. The map
    * per group suits small domains only: above
    * [[graft.functions.EmdAggregator.MaxDomain]] positions, or with a NULL
    * position, the call routes to [[groupEmd]] (same output contract). */
  def groupEmdAgg(df: DataFrame, qis: Seq[String], posCol: String): DataFrame = {
    val basis = basisOf(rowPositions(df, posCol))
    if (basis.counts.size > EmdAggregator.MaxDomain || basis.nulls > 0)
      return groupEmd(df, qis, posCol)
    val total = basis.counts.map(_._2).sum.toDouble
    val emdFn = EmdAggregator.emd(basis.counts.map { case (p, c) => p -> c / total }.toMap)
    df.groupBy(qis.map(col): _*)
      .agg(emdFn(col(posCol).cast("double")).as("emd"))
  }

  /** k-anonymity + t-closeness suppression: the rows (all columns) whose
    * class has >= k members and an EMD <= t from the k-anonymized input's
    * distribution. */
  def filter(df: DataFrame, qis: Seq[String], posCol: String, k: Int, t: Double): DataFrame =
    filterWithBasis(df, qis, posCol, k, t)._1

  /** [[filter]] and the basis it measured classes against. The input is
    * read twice: by the class table, materialized once as a truncated leaf
    * (freed at the query's drain) whose k-anonymous classes give the basis,
    * and by the returned plan's semi-join probe. */
  private[graft] def filterWithBasis(df: DataFrame, qis: Seq[String], posCol: String,
                                     k: Int, t: Double): (DataFrame, EmdBasis) = {
    val inClass = col(ClassSize) >= k
    val table = Truncate(classTable(df, qis, posCol))
    QueryCleanup.register(() => Truncate.release(table))
    val basis = basisOf(table.filter(inClass).select(explode(col(Entries))).select("col.*"))
    val passing = table.filter(inClass && emdOf(basis) <= t).select(qis.map(col): _*)
    // no forced broadcast (AQE picks one when the classes fit); <=> keys
    // so rows of a NULL-QI class survive when their class passes
    (NullSafe.semi(df, passing, qis), basis)
  }

  /** Count of groups violating t: t-closeness.py's double-check
    * (:187-208) as intended. `reference` is the basis (the filter's, for a
    * structurally-zero recheck; by default df's own) and must hold every
    * position of df. One aggregation over df's class table counts the
    * violating classes and the rows outside the basis together. */
  def violationCount(df: DataFrame, qis: Seq[String], posCol: String, t: Double,
                     reference: Option[EmdBasis] = None): Long = {
    val basis = reference.getOrElse(basisOf(rowPositions(df, posCol)))
    val outside = sum(when(!known(col(Pos), basis), col(Cnt))).as("__outside")
    val r = classTable(df, qis, posCol, outside)
      .agg(count(when(emdOf(basis) > t, 1)), coalesce(sum("__outside"), lit(0L)))
      .head()
    if (r.getLong(1) > 0) requireCovered(df, posCol, basis)
    r.getLong(0)
  }

  private val ClassSize = "__n"
  private val Entries = "__entries"
  private val Pos = "__pos"
  private val Cnt = "__cnt"

  /** The sparse class table: per QI class, the QIs, its size `__n` and its
    * (pos, cnt) entries in no particular order — a NULL position is an
    * entry too — then `extra`, aggregated over the class's (QIs, `__pos`,
    * `__cnt`) cells. */
  private def classTable(df: DataFrame, qis: Seq[String], posCol: String,
                         extra: Column*): DataFrame =
    df.groupBy(qis.map(col) :+ col(posCol).cast("double").as(Pos): _*)
      .agg(count(lit(1)).as(Cnt))
      .groupBy(qis.map(col): _*)
      .agg(sum(Cnt).as(ClassSize),
        collect_list(struct(col(Pos).as("pos"), col(Cnt).as("cnt"))).as(Entries) +: extra: _*)

  /** One (pos, cnt = 1) row per row of `df`. */
  private def rowPositions(df: DataFrame, posCol: String): DataFrame =
    df.select(col(posCol).cast("double").as("pos"), lit(1L).as("cnt"))

  /** The basis of `entries`' (pos, cnt) rows: one aggregation,
    * LIMIT-capped so the driver never holds an unbounded domain (NULL sorts
    * first, so one row past the bound shows it). */
  private def basisOf(entries: DataFrame): EmdBasis = {
    val (nullRows, rows) = entries.groupBy(col("pos")).agg(sum(col("cnt")))
      .orderBy(col("pos")).limit(MaxOrdinalDomain + 2).collect().partition(_.isNullAt(0))
    require(rows.length <= MaxOrdinalDomain,
      s"TCloseness: the sensitive column has > $MaxOrdinalDomain positions — " +
        "bin it first (Generalization.binEquiWidth / binEdges)")
    EmdBasis(rows.map(r => r.getDouble(0) -> r.getLong(1)).toIndexedSeq,
      nullRows.map(_.getLong(1)).sum)
  }

  /** Whether a position is one of `basis`'s (NULL is when the basis holds
    * a NULL position). */
  private def known(pos: Column, basis: EmdBasis): Column =
    coalesce(pos.isin(basis.counts.map(_._1): _*), lit(basis.nulls > 0))

  /** Fails naming up to five of df's positions outside `basis`. */
  private def requireCovered(df: DataFrame, posCol: String, basis: EmdBasis): Unit = {
    val orphans = df.select(col(posCol)).distinct()
      .filter(!known(col(posCol).cast("double"), basis)).take(5).map(_.get(0))
    require(orphans.isEmpty, s"groupEmdAgainst: sensitive positions " +
      s"${orphans.mkString(", ")} occur in df but not in referenceDf — the reference " +
      "distribution must cover every position in df (is df a subset of the reference table?)")
  }

  /** A class-table row's EMD against `basis`, whose positions and
    * probabilities travel with the function (an entry outside them is
    * skipped; [[violationCount]] reports such rows). NULL for a class with
    * a NULL position, or for every class when the basis holds one. */
  private def emdOf(basis: EmdBasis): Column = {
    val nullBasis = basis.nulls > 0
    val positions = basis.counts.map(_._1).toArray
    val total = basis.counts.map(_._2).sum.toDouble
    val q = basis.counts.map(_._2 / total).toArray
    val emd = udf { (n: Long, entries: Seq[Row]) =>
      Option.when(!nullBasis && !entries.exists(_.isNullAt(0))) {
        val counts = new Array[Long](positions.length)
        entries.foreach { e =>
          val i = java.util.Arrays.binarySearch(positions, e.getDouble(0))
          if (i >= 0) counts(i) = e.getLong(1)
        }
        EmdAggregator.closedForm(positions, q, counts, n.toDouble)
      }
    }
    emd(col(ClassSize), col(Entries))
  }
}
