package graft.ops

import graft.QueryCleanup
import graft.util.Truncate
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** t-closeness: per-equivalence-class Earth Mover's Distance of the
  * sensitive-attribute distribution against the dataset-wide distribution,
  * then suppression of groups with EMD > t.
  *
  * Reference: t-closeness.py:42-121 (driver-side loop over groups) and the
  * standalone violation counter at t-closeness.py:187-208. We implement the
  * *intended* semantics (group vs. global distribution — the violation
  * counter's version); the reference's main loop accidentally compares each
  * group against itself (SURVEY §3) which we do not replicate.
  *
  * Three formulations of the same closed-form 1-D EMD, all summing in
  * [[graft.functions.EmdAggregator]]`.finish`'s order (the class table and
  * the windowed form do the same double arithmetic, so they agree bit for
  * bit; q25/q55's shared oracle checks the aggregator):
  *  - the CLASS TABLE ([[filter]] on domains of at most [[MaxClassDomain]]
  *    positions, and [[violationCount]] against the basis such a filter
  *    held): one row per QI class holding its size and one count column per
  *    sensitive position, built by one aggregation with partial
  *    aggregation. The positions come from a LIMIT-capped domain probe; the
  *    reference distribution is held on the driver, so the EMD is a per-row
  *    column expression and costs no shuffle of its own.
  *  - the WINDOWED form ([[groupEmd]], [[groupEmdAgainst]], and [[filter]]
  *    on a wider or NULL-bearing domain): counts per (group, position),
  *    densified against the global position set, window cumsums. Its state
  *    never leaves the executors, so it has no domain bound.
  *  - [[graft.functions.EmdAggregator]] ([[groupEmdAgg]]): a typed
  *    Aggregator holding a position->count map per group.
  *
  * The sensitive column must be numeric "positions" (an ordinal encoding for
  * categorical attributes — the reference uses sorted-unique index positions,
  * t-closeness.py:62-67); use [[ordinal]] to produce it.
  */
object TCloseness {

  /** Widest sensitive-attribute domain [[ordinal]] will dictionary-encode.
    * The dictionary is collected to the driver and broadcast, so the bound
    * is what stands between a mistaken high-cardinality column and a
    * driver OOM. 10k ordinal positions broadcast as ~a few hundred KB —
    * far past any real sensitive attribute (the reference's domain is 2). */
  val MaxOrdinalDomain = 10000

  /** Widest sensitive domain the class table holds as columns; a wider one
    * (or one with a NULL position) takes the windowed route. A class-table
    * row is the QIs, the class size and one count per position, and Spark
    * compiles the class-table aggregation (the one step that reads every
    * input row) whole only while its schema stays within
    * `spark.sql.codegen.maxFields` (default 100); past that it falls back
    * to the interpreted row-at-a-time path. 64 positions leave the size
    * column and up to 35 QIs under the limit. The EMD itself is evaluated
    * per class row by an interpreted `aggregate` and grows linearly with
    * the domain. Measured at 64 positions (40k rows, 600 classes,
    * `local[2]`): the filter and its recheck run 11 jobs in 1.4–2.7 s,
    * against 126 jobs in 13–15 s on the windowed route, with the same rows
    * and the class-table aggregation whole-stage compiled. */
  val MaxClassDomain = 64

  /** Alphabetical ordinal encoding of a categorical column, matching the
    * reference's sorted-unique `label_to_pos` (t-closeness.py:62-63).
    * Broadcast-joins a tiny dictionary; no global window at scale.
    */
  def ordinal(df: DataFrame, c: String, outCol: String): DataFrame = {
    // Sensitive-attribute domains are tiny by assumption (the reference's
    // is 2 values): collect the sorted domain and broadcast a dictionary.
    // A dense_rank over a global window would funnel through one task.
    // Ordering happens on the column's NATIVE type (sorting the casted
    // string would ordinal-sort numerics lexicographically: 10 < 2);
    // the join key is the string rendering, matching Spark's own cast.
    val spark = df.sparkSession
    import spark.implicits._
    // LIMIT-capped collect (the groupEmdAgg idiom): orderBy+limit plans as
    // TakeOrdered, so the driver never holds more than MaxOrdinalDomain+1
    // values even when the column is mistakenly high-cardinality — fail
    // fast instead of OOM
    val values = df.select(col(c)).distinct().orderBy(col(c))
      .limit(MaxOrdinalDomain + 1)
      .select(col(c).cast("string")).as[String].collect()
    require(values.length <= MaxOrdinalDomain,
      s"TCloseness.ordinal: column '$c' has > $MaxOrdinalDomain distinct " +
        "values — not an ordinal sensitive attribute. Bin it first " +
        "(Generalization.binEquiWidth / binEdges) and ordinal-encode the bins.")
    val dict = values.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toSeq
      .toDF("__ord_k", outCol)
    df.join(broadcast(dict), col(c).cast("string") === col("__ord_k"))
      .drop("__ord_k")
  }

  /** One row per group: QI columns + `emd` (double). `posCol` is the numeric
    * sensitive-position column.
    */
  def groupEmd(df: DataFrame, qis: Seq[String], posCol: String): DataFrame =
    emdFromCells(cellCounts(df, qis, posCol), qis, posCol)

  /** The windowed form's input: one (qis..., pos, __cnt) row per cell. */
  private def cellCounts(df: DataFrame, qis: Seq[String], posCol: String): DataFrame =
    df.groupBy(qis.map(col) :+ col(posCol): _*).agg(count(lit(1)).as("__cnt"))

  /** [[groupEmd]] with the REFERENCE distribution taken from a separate
    * table: each group's sensitive distribution is compared against
    * `referenceDf`'s, not `df`'s own. This is what a post-suppression
    * self-check needs — suppression shifts the surviving table's global
    * distribution, so rechecking filtered output against itself can
    * report spurious boundary violations that the filter (correctly,
    * against its own fixed basis) admitted.
    *
    * Runtime guard (EAGER — one small Spark action at construction time):
    * a position in df but absent from the reference would be silently
    * dropped, renormalizing the group distribution and understating EMD.
    * Requires df's positions ⊆ reference's — guaranteed when df ⊆
    * referenceDf (the post-suppression self-check). */
  def groupEmdAgainst(df: DataFrame, referenceDf: DataFrame, qis: Seq[String],
                      posCol: String): DataFrame =
    emdAgainstFrame(df, referenceDf.groupBy(col(posCol)).agg(count(lit(1)).as("__gcnt")),
      qis, posCol)

  /** The windowed [[groupEmdAgainst]] against a (posCol, __gcnt) reference. */
  private def emdAgainstFrame(df: DataFrame, refCounts: DataFrame, qis: Seq[String],
                              posCol: String): DataFrame = {
    val cells = cellCounts(df, qis, posCol)
    val orphans = cells.select(col(posCol)).distinct()
      .join(broadcast(refCounts.select(col(posCol))), Seq(posCol), "left_anti")
      .take(5)
    requireCovered(orphans.map(_.get(0)).toSeq)
    emdFromCells(cells, qis, posCol, Some(refCounts))
  }

  private def requireCovered(orphans: Seq[Any]): Unit =
    require(orphans.isEmpty,
      s"groupEmdAgainst: sensitive positions ${orphans.mkString(", ")} " +
        s"occur in df but not in referenceDf — the reference distribution must " +
        s"cover every position in df (is df a subset of the reference table?)")

  /** t-closeness for CATEGORICAL sensitive attributes: per-group TOTAL
    * VARIATION distance (the t-closeness paper's "equal distance" ground
    * metric for nominal attributes, where EMD degenerates to
    * TV = ½ Σ_v |p_v − q_v|) against the dataset-wide distribution. No
    * ordinal encoding required — values never need an order.
    *
    * Scale: identical topology to [[groupEmd]] minus the cumsum windows —
    * one cell aggregation over the raw table, then the global
    * distribution, densify, and the absolute-difference sum all run over
    * the |groups|×|domain| cell table with the tiny domain broadcast.
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
    // densify with <=> keys: groupBy emits NULL-keyed cells (null QI
    // values and null sensitive values are real groups), and a plain
    // `=` join would zero their counts while __q still carries the null
    // mass — per-group p would no longer sum to 1.
    val dense = NullSafe.join(groups.crossJoin(broadcast(glob)), cell,
        qis :+ sensitiveCol, "left")
      .na.fill(0L, Seq("__cnt"))
    val wg = Window.partitionBy(qiCols: _*)
    dense
      .withColumn("__p", col("__cnt") / sum("__cnt").over(wg))
      .groupBy(qiCols: _*)
      .agg((sum(abs(col("__p") - col("__q"))) / 2).as("tv"))
  }

  /** EMD from a pre-aggregated (qis..., pos, __cnt) cell table. The ONLY
    * pass over the raw data is the cell aggregation the caller performed;
    * the global distribution, densification, cumsums, and the closed form
    * all run over the |groups|×|domain| cell table. `globalPosCounts`
    * (posCol, __gcnt) overrides the reference distribution; by default it
    * derives from the cells themselves. */
  private[ops] def emdFromCells(cell: DataFrame, qis: Seq[String], posCol: String,
                                globalPosCounts: Option[DataFrame] = None): DataFrame = {
    val qiCols = qis.map(col)
    // global distribution derived from the cells (no raw-table rescan);
    // total via scalar-agg cross join, not an empty-partition window
    val globCnt = globalPosCounts.getOrElse(
      cell.groupBy(col(posCol)).agg(sum("__cnt").as("__gcnt")))
    val glob = globCnt.crossJoin(broadcast(globCnt.agg(sum("__gcnt").as("__tot"))))
      .withColumn("__q", col("__gcnt") / col("__tot"))
      .select(col(posCol), col("__q"))
    // densify: every group gets a row for every global position. <=>
    // keys — null QI values are real groups out of the cell aggregation,
    // and a plain `=` join would zero their counts (emd would come out
    // null from a 0/0 normalization instead of the group's true value).
    val groups = cell.select(qiCols: _*).distinct()
    val dense = NullSafe.join(groups.crossJoin(broadcast(glob)), cell,
        qis :+ posCol, "left")
      .na.fill(0L, Seq("__cnt"))
    val wg = Window.partitionBy(qiCols: _*)
    val wc = wg.orderBy(col(posCol))
    // the last position has no successor, so its term is 0.0: a
    // one-position domain gets EMD 0 (EmdAggregator.finish's value), and
    // adding +0.0 changes no other sum. A NULL position has no ground
    // distance, so a class holding one (densified: every class, once the
    // domain has one) gets a NULL EMD — no filter releases it
    val term = abs(col("__cp") - col("__cq")) * (col("__nxt") - col(posCol))
    dense
      .withColumn("__p", col("__cnt") / sum("__cnt").over(wg))
      .withColumn("__cp", sum("__p").over(wc))
      .withColumn("__cq", sum("__q").over(wc))
      .withColumn("__nxt", lead(col(posCol), 1).over(wc))
      .groupBy(qiCols: _*)
      .agg(when(count(when(col(posCol).isNull, 1)) === 0,
        sum(coalesce(term, lit(0.0)))).as("emd"))
  }

  /** [[groupEmd]] via the typed [[graft.functions.EmdAggregator]]: ONE
    * shuffle for all groups (map-side partial maps of position->count),
    * EMD computed in finish() against the driver-collected global
    * distribution. Preferred over the window formulation when group count
    * is huge. Bit-identical output (same sequential sum order over sorted
    * positions — q55's oracle is the proof).
    *
    * Domain guard: the aggregator holds a position->count map PER GROUP
    * and collects the global distribution to the driver, so it is only
    * the right topology for small ordinal domains. The domain is probed
    * with a LIMIT-capped aggregation (the probe itself never collects an
    * unbounded set); above [[graft.functions.EmdAggregator.MaxDomain]]
    * positions the call routes to the windowed closed form ([[groupEmd]]
    * — same output contract, executor-resident state, no bound). */
  def groupEmdAgg(df: DataFrame, qis: Seq[String], posCol: String): DataFrame = {
    val maxDomain = graft.functions.EmdAggregator.MaxDomain
    val rows = probe(df, posCol, maxDomain)
    if (rows.length > maxDomain) return groupEmd(df, qis, posCol)
    val total = rows.map(_.getLong(1)).sum.toDouble
    val global = rows.map(r => Row2Pos(r.get(0)) -> r.getLong(1) / total).toMap
    val emdFn = graft.functions.EmdAggregator.emd(global)
    df.groupBy(qis.map(col): _*)
      .agg(emdFn(col(posCol).cast("double")).as("emd"))
  }

  /** Numeric position extraction for the collected global domain. */
  private def Row2Pos(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => other.toString.toDouble
  }

  /** The sensitive distribution a t-closeness filter measured classes
    * against: the per-position row counts of its k-anonymized input. A
    * recheck of the filter's output must use it, not the output's own
    * distribution (see [[groupEmdAgainst]]). */
  sealed trait EmdBasis
  object EmdBasis {
    /** Counts held on the driver in position order, zero counts dropped:
      * the class-table route, whose one materializing job computes them. */
    final case class Held(counts: IndexedSeq[(Any, Long)]) extends EmdBasis
    /** A lazy (posCol, __gcnt) frame: the windowed route, on domains wider
      * than [[MaxClassDomain]]. */
    final case class Frame(counts: DataFrame) extends EmdBasis
  }

  /** k-anonymity + t-closeness suppression: rows whose group both has >= k
    * members and sits within EMD <= t of the k-anonymized input's
    * distribution. Returns the surviving rows with original columns.
    */
  def filter(df: DataFrame, qis: Seq[String], posCol: String, k: Int, t: Double): DataFrame =
    filterWithBasis(df, qis, posCol, k, t)._1

  /** [[filter]] and the basis it measured classes against.
    *
    * On the class-table route the input is read three times: the domain
    * probe, the class table, and the returned plan's semi-join probe. The
    * class table materializes once as a truncated leaf; that same job
    * observes the basis counts, `sum(when(n >= k, c_i))`, so the driver
    * holds the basis before any EMD is computed and the returned plan
    * reads only the input and the leaf. */
  private[graft] def filterWithBasis(df: DataFrame, qis: Seq[String], posCol: String,
                                     k: Int, t: Double): (DataFrame, EmdBasis) =
    probe(df, posCol, MaxClassDomain) match {
      case rows if rows.length > MaxClassDomain || rows.exists(_.isNullAt(0)) =>
        windowedFilter(df, qis, posCol, k, t)
      case rows if rows.isEmpty => (df, EmdBasis.Held(Vector.empty))
      case rows =>
        val global = rows.map(r => r.get(0) -> r.getLong(1)).toIndexedSeq
        val inClass = col(ClassSize) >= k
        val (table, kept) = Truncate.observed(classTable(df, qis, posCol, global.map(_._1)))(
          global.indices.map(i => sum(when(inClass, countCol(i))).as(s"__c$i")): _*)
        QueryCleanup.register(() => Truncate.release(table))
        val used = global.indices.filter(i => kept(s"__c$i") > 0)
        val basis = used.map(i => global(i)._1 -> kept(s"__c$i"))
        val passing = table.filter(inClass && emdOf(basis, used.map(countCol)) <= t)
          .select(qis.map(col): _*)
        // passing is bounded by the class count — data-dependent, so no
        // forced broadcast (AQE picks one when it fits). <=> keys so rows
        // in a NULL-QI class survive when their class passes.
        (NullSafe.semi(df, passing, qis), EmdBasis.Held(basis))
    }

  /** [[filter]] on the windowed form: k-filtering, the basis and the EMD
    * all derive from the cell table. */
  private[ops] def windowedFilter(df: DataFrame, qis: Seq[String], posCol: String,
                                  k: Int, t: Double): (DataFrame, EmdBasis) = {
    val cell = cellCounts(df, qis, posCol)
    val keep = cell.groupBy(qis.map(col): _*).agg(sum("__cnt").as("__grp"))
      .filter(col("__grp") >= k).select(qis.map(col): _*)
    val kanonCell = NullSafe.semi(cell, keep, qis)
    val basis = kanonCell.groupBy(col(posCol)).agg(sum("__cnt").as("__gcnt"))
    val passing = emdFromCells(kanonCell, qis, posCol, Some(basis))
      .filter(col("emd") <= t).select(qis.map(col): _*)
    (NullSafe.semi(df, passing, qis), EmdBasis.Frame(basis))
  }

  /** Count of groups violating t (the reference's double-check pattern,
    * t-closeness.py:187-208 — note its per-group t_closeness_check
    * degenerates to comparing each group with itself, so it always prints
    * 0; this is the intended check). `reference` fixes the distribution
    * basis — pass the basis the filter returned for a structurally-zero
    * recheck; default is df's own distribution, through [[groupEmd]]. The
    * basis must contain every sensitive position occurring in df (true
    * whenever df is the filter's output).
    *
    * Against a held basis this is one aggregation over df's class table,
    * which counts the violating classes and the rows at positions outside
    * the basis together. */
  def violationCount(df: DataFrame, qis: Seq[String], posCol: String, t: Double,
                     reference: Option[EmdBasis] = None): Long =
    reference match {
      case Some(EmdBasis.Held(basis)) =>
        val outsideRows = count(when(!known(posCol, basis), 1)).as("__outside")
        val r = classTable(df, qis, posCol, basis.map(_._1), outsideRows)
          .agg(count(when(emdOf(basis, basis.indices.map(countCol)) > t, 1)),
            coalesce(sum("__outside"), lit(0L)))
          .head()
        if (r.getLong(1) > 0) requireCovered(orphans(df, posCol, basis))
        r.getLong(0)
      case Some(EmdBasis.Frame(counts)) =>
        emdAgainstFrame(df, counts, qis, posCol).filter(col("emd") > t).count()
      case None =>
        groupEmd(df, qis, posCol).filter(col("emd") > t).count()
    }

  /** `df`'s (position, row count) rows in position order, at most
    * `bound` + 1 of them: more than `bound` rows means the domain is wider.
    * LIMIT-capped, so the driver never holds an unbounded domain; NULL
    * sorts first, so a NULL position is always seen. */
  private def probe(df: DataFrame, posCol: String, bound: Int): Array[Row] =
    df.groupBy(col(posCol)).agg(count(lit(1))).orderBy(col(posCol))
      .limit(bound + 1).collect()

  /** Whether a row's position is one of `basis`'s (NULL never is). */
  private def known(posCol: String, basis: Seq[(Any, Long)]): Column =
    coalesce(col(posCol).isin(basis.map(_._1): _*), lit(false))

  /** Up to five of df's positions outside `basis` (one small job). */
  private def orphans(df: DataFrame, posCol: String, basis: Seq[(Any, Long)]): Seq[Any] =
    df.select(col(posCol)).distinct().filter(!known(posCol, basis))
      .take(5).map(_.get(0)).toSeq

  private val ClassSize = "__n"
  private def countCol(i: Int): Column = col(s"__c$i")

  /** One row per QI class: the QIs, its size `__n`, one count `__c<i>` per
    * entry of `positions`, then `extra`. One aggregation, so one shuffle
    * with partial aggregation. */
  private def classTable(df: DataFrame, qis: Seq[String], posCol: String,
                         positions: Seq[Any], extra: Column*): DataFrame = {
    val counts = positions.zipWithIndex.map { case (p, i) =>
      count(when(col(posCol) === lit(p), 1)).as(s"__c$i")
    }
    df.groupBy(qis.map(col): _*)
      .agg(count(lit(1)).as(ClassSize), counts ++ extra: _*)
  }

  /** EMD of a class-table row against `basis` ((position, count) in
    * position order), `counts(j)` being the row's count at basis position
    * j. The basis cumsum is folded on the driver; the row's runs as one
    * `aggregate` over the per-step (count, cumQ, gap) structs, so the
    * expression grows linearly with the domain (nesting the running cumP
    * as plain columns grows it quadratically, and at 32 positions the
    * generated code of the recheck aggregation no longer fits a 1 GB
    * heap). Both sums keep EmdAggregator.finish's order — cumP += c_j/n,
    * cumQ += q_j, emd += |cumP − cumQ|·(p_{j+1} − p_j) — the arithmetic the
    * windowed form performs, so both agree bit for bit. */
  private def emdOf(basis: IndexedSeq[(Any, Long)], counts: IndexedSeq[Column]): Column =
    if (basis.size < 2) lit(0.0)
    else {
      val total = basis.map(_._2).sum.toDouble
      val cumQ = basis.init.scanLeft(0.0)(_ + _._2 / total).tail
      val steps = array(basis.indices.init.map(j => struct(counts(j).as("c"),
        lit(cumQ(j)).as("q"), (lit(basis(j + 1)._1) - lit(basis(j)._1)).as("g"))): _*)
      aggregate(steps, struct(lit(0.0).as("p"), lit(0.0).as("e")), (acc, step) => {
        val cumP = acc("p") + step("c") / col(ClassSize)
        struct(cumP.as("p"), (acc("e") + abs(cumP - step("q")) * step("g")).as("e"))
      })("e")
    }
}
