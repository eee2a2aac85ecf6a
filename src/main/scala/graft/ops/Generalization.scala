package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generalization operators: binning and range rendering.
  *
  * Reference: equal-width data-driven binning `pd.cut(col, bins=n,
  * labels=False)` (t-closeness.py:36,39-40), explicit-edge labeled binning
  * (Archived/data-anonymity.py:79-83), and per-cluster min-max range
  * generalization (clustering-anon.py:51).
  *
  * Equal-width binning is two-phase: a single min/max aggregate over every
  * binned column (one cheap all-to-one reduce — bytes of state regardless
  * of table size) fixes the edges on the driver, then the bin id is a pure
  * arithmetic expression that stays inside whole-stage codegen. We
  * intentionally do NOT replicate pandas' 0.1% left-edge widening (SURVEY
  * §2.8 F1); edges are exactly [min, max] with the top edge clamped into
  * the last bin.
  */
object Generalization {

  /** Bin ids 0..n-1 by equal-width splits of [min(col), max(col)].
    * Returns the input with `outCol` appended.
    */
  def equalWidthBin(df: DataFrame, c: String, n: Int, outCol: String): DataFrame = {
    val Seq((mn, mx)) = ranges(df, Seq(c))
    df.withColumn(outCol, equalWidthBinExpr(col(c), mn, mx, n))
  }

  /** [[equalWidthBin]] over several (column, bin count) pairs from ONE
    * min/max aggregate: each bin id replaces its column, which moves to the
    * end of the schema in `bins` order. */
  def equalWidthBins(df: DataFrame, bins: Seq[(String, Int)]): DataFrame =
    if (bins.isEmpty) df
    else bins.zip(ranges(df, bins.map(_._1))).foldLeft(df) {
      case (acc, ((c, n), (mn, mx))) =>
        acc.withColumn(c + "__bin", equalWidthBinExpr(col(c), mn, mx, n))
          .drop(c).withColumnRenamed(c + "__bin", c)
    }

  /** (min, max) of each column as doubles, from one aggregate job. */
  private def ranges(df: DataFrame, cols: Seq[String]): Seq[(Double, Double)] = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    df.agg(aggs.head, aggs.tail: _*).head().toSeq.map(_.asInstanceOf[Double])
      .grouped(2).map { case Seq(mn, mx) => (mn, mx) }.toSeq
  }

  /** The pure-expression form, usable once min/max are known. Degenerate
    * range (min == max) puts everything in bin 0, matching pd.cut on a
    * constant column yielding a single interval.
    */
  def equalWidthBinExpr(c: Column, mn: Double, mx: Double, n: Int): Column =
    if (mx == mn) lit(0L)
    else least(floor((c.cast("double") - lit(mn)) / (lit(mx) - lit(mn)) * lit(n)), lit(n - 1L)).cast("long")

  /** Equal-DEPTH (quantile) binning — the pd.qcut analogue the reference
    * lacks: bin ids 0..n-1 with ~equal row counts. NOT an `ntile` global
    * window (one-task bottleneck at scale): a single exact-percentile
    * aggregate fixes the n-1 edges on the driver, then the bin id is a
    * codegen'd chain of comparisons (count of edges below the value), so
    * the data passes are one tiny all-to-one reduce plus one scan.
    * Right-closed intervals (a value equal to an edge stays in the lower
    * bin, qcut's convention); edges round to 6dp so an external engine's
    * last-ulp interpolation differences cannot flip a bin. */
  def equalDepthBin(df: DataFrame, c: String, n: Int, outCol: String): DataFrame = {
    require(n >= 2, "need at least 2 bins")
    val qs = (1 until n).map(i => i.toDouble / n)
    val edges = df.agg(expr(
      s"percentile($c, array(${qs.mkString(", ")}))")).head()
      .getSeq[Double](0)
      .map(e => BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    df.withColumn(outCol, edges.foldLeft(lit(0L)) { (acc, e) =>
      acc + when(col(c).cast("double") > e, 1L).otherwise(0L)
    })
  }

  /** Explicit-edge binning with string labels, as a codegen-friendly CASE
    * chain. `edges` has length labels.size + 1; intervals are
    * (edges(i), edges(i+1)] like pd.cut's default right-closed intervals.
    */
  def labeledBin(c: Column, edges: Seq[Double], labels: Seq[String]): Column = {
    require(edges.size == labels.size + 1, "need one more edge than labels")
    val first = when(c <= edges(1) && c > edges.head, labels.head)
    labels.indices.tail.foldLeft(first) { (acc, i) =>
      acc.when(c <= edges(i + 1) && c > edges(i), labels(i))
    }
  }

  /** Per-group min-max generalization: every QI value replaced by the
    * "min-max" range string of its group (clustering-anon.py:51). One
    * aggregate per group (single shuffle) then a broadcast join back — the
    * group table is |groups| rows, tiny relative to the input.
    *
    * The table also carries each group's row count `grp_cnt`, so it is the
    * release's class table for [[graft.metrics.PrivacyMetrics.evaluate]].
    */
  def minMaxRanges(df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("grp_cnt"), aggs: _*)
      .select(col(groupCol) +: col("grp_cnt") +: cols.map(c =>
        concat_ws("-", col(s"__min_$c").cast("string"), col(s"__max_$c").cast("string")).as(c)): _*)
  }

  /** Replace each row's QI values with its group's range strings. */
  def generalize(df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    val ranges = minMaxRanges(df, groupCol, cols)
      .select(col(groupCol) +: cols.map(c => col(c).as(s"__gen_$c")): _*)
    val joined = df.join(broadcast(ranges), Seq(groupCol))
    val keep = df.columns.filterNot(cols.contains).map(col)
    joined.select(keep ++ cols.map(c => col(s"__gen_$c").as(c)): _*)
  }

  /** Full-domain generalization (Samarati, "Protecting respondents'
    * identities in microdata release", TKDE 2001): generalize `numCol`
    * to the COARSEST-necessary level of a fixed width hierarchy — the
    * smallest level whose equal-width ranges, combined with the other
    * quasi-identifiers, make EVERY equivalence class at least `k` rows.
    * Unlike [[graft.ops.Mondrian]]'s local recoding (different cells per
    * region), full-domain recoding applies ONE rule to the whole column —
    * the property auditors want when the release must be explainable
    * ("all balances were rounded to $4000 ranges").
    *
    * The level search is a single distributed pass, not one scan per
    * level: each row explodes into (level, bin) for every width — `L`×
    * amplification of the QI projection only (L = widths.size, single
    * digits) — then one aggregation counts every (level, bin, QIs) class
    * and a per-level min reduces to L rows on the driver (metadata
    * scale). The chosen width then renders codegen'd range strings
    * `[lo,hi)` with LONG bounds (integral widths), identical text on any
    * engine. If even the widest level leaves a class under `k`, every
    * value suppresses to `"*"` and the emitted level is -1 (the
    * hierarchy's root).
    *
    * Output: the input with `numCol` replaced by its range string and a
    * constant `glevel` column recording the chosen level. NULL QIs form
    * their own classes (groupBy semantics) and count toward k like any
    * other class. */
  def fullDomainGeneralize(df: DataFrame, numCol: String,
                           otherQis: Seq[String], k: Int,
                           widths: Seq[Long]): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0), "need positive widths")
    require(k >= 1, s"k=$k must be positive")
    def rangeStr(w: Long): Column = {
      val lo = floor(col(numCol) / w).cast("long") * w
      concat(lit("["), lo.cast("string"), lit(","),
        (lo + w).cast("string"), lit(")"))
    }
    val levels = explode(typedlit(widths.indices.map(_.toLong))).as("__lvl")
    val widthOf = widths.zipWithIndex.tail.foldLeft(lit(widths.head)) {
      case (els, (w, i)) => when(col("__lvl") === i.toLong, w).otherwise(els)
    }
    val binned = df.select((otherQis.map(col) :+ col(numCol) :+ levels): _*)
      .withColumn("__bin", floor(col(numCol) / widthOf).cast("long") * widthOf)
    val minPerLevel = binned
      .groupBy((Seq(col("__lvl"), col("__bin")) ++ otherQis.map(col)): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__lvl")).agg(min(col("__n")).as("__mn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chosen = widths.indices.find(l => minPerLevel.getOrElse(l.toLong, 0L) >= k)
    chosen match {
      case Some(l) =>
        df.withColumn(numCol, rangeStr(widths(l)))
          .withColumn("glevel", lit(l.toLong))
      case None =>
        df.withColumn(numCol, lit("*")).withColumn("glevel", lit(-1L))
    }
  }

  /** TWO-attribute full-domain generalization: search the (levelA,
    * levelB) lattice of width hierarchies for the LEAST generalization
    * — minimal total level, ties on the first attribute — whose joint
    * equal-width ranges (with `otherQis`) make every class at least
    * `k` rows. The faithful multi-attribute Samarati shape: [[
    * fullDomainGeneralize]] climbs one ladder, this walks the product
    * lattice (|A|·|B| nodes, single digits squared).
    *
    * Still ONE distributed pass: each row explodes into every (la, lb)
    * combination — |A|·|B| amplification of the QI projection only —
    * one counting aggregation, then a per-combo min reduced to
    * |A|·|B| driver rows. No level admissible → both columns suppress
    * to "*" and levels emit -1. */
  def fullDomainGeneralize2d(df: DataFrame, colA: String, widthsA: Seq[Long],
                             colB: String, widthsB: Seq[Long],
                             otherQis: Seq[String], k: Int): DataFrame = {
    require(widthsA.nonEmpty && widthsA.forall(_ > 0), "need positive widthsA")
    require(widthsB.nonEmpty && widthsB.forall(_ > 0), "need positive widthsB")
    require(k >= 1, s"k=$k must be positive")
    def rangeStr(c: String, w: Long): Column = {
      val lo = floor(col(c) / w).cast("long") * w
      concat(lit("["), lo.cast("string"), lit(","),
        (lo + w).cast("string"), lit(")"))
    }
    val combos = for (la <- widthsA.indices; lb <- widthsB.indices)
      yield (la.toLong, lb.toLong, widthsA(la), widthsB(lb))
    val lattice = explode(typedlit(combos)).as("__lv")
    val binned = df
      .select((otherQis.map(col) :+ col(colA) :+ col(colB) :+ lattice): _*)
      .withColumn("__ba", floor(col(colA) / col("__lv._3")).cast("long") * col("__lv._3"))
      .withColumn("__bb", floor(col(colB) / col("__lv._4")).cast("long") * col("__lv._4"))
    val minPerCombo = binned
      .groupBy((Seq(col("__lv._1").as("__la"), col("__lv._2").as("__lb"),
        col("__ba"), col("__bb")) ++ otherQis.map(col)): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__la"), col("__lb")).agg(min(col("__n")).as("__mn"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val chosen = combos
      .filter { case (la, lb, _, _) => minPerCombo.getOrElse((la, lb), 0L) >= k }
      .sortBy { case (la, lb, _, _) => (la + lb, la) }
      .headOption
    chosen match {
      case Some((la, lb, wa, wb)) =>
        df.withColumn(colA, rangeStr(colA, wa))
          .withColumn(colB, rangeStr(colB, wb))
          .withColumn("glevel_a", lit(la)).withColumn("glevel_b", lit(lb))
      case None =>
        df.withColumn(colA, lit("*")).withColumn(colB, lit("*"))
          .withColumn("glevel_a", lit(-1L)).withColumn("glevel_b", lit(-1L))
    }
  }

  /** Quantile-normalization MAPPING: per group, rank `valueCol` into
    * `nTiles` equal-frequency tiles; the normalization target of a tile
    * is the cross-group mean of that tile's per-group means — mapping
    * every group's distribution onto a common one (the bioinformatics /
    * feature-prep standard; Bolstad et al., Bioinformatics 2003, in its
    * binned form). Returns (groupCol, tile, tile_avg_raw, target, n):
    * the apply step is a broadcast join of this table back on
    * (group, tile).
    *
    * One window per group (parallel across groups, `ntile` needs no
    * global sort), one tiny two-level aggregation. Ties order on
    * `tieCol` so tile boundaries replay identically on any engine;
    * averages round to 6dp. */
  def quantileNormalizeMap(df: DataFrame, groupCol: String, valueCol: String,
                           nTiles: Int, tieCol: String): DataFrame = {
    require(nTiles >= 2, s"nTiles=$nTiles needs at least 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol), col(tieCol))
    val tiled = df.withColumn("tile", ntile(nTiles).over(w).cast("long"))
    // order-independent means via exact integer micro-units (the q136
    // sf0.1 lesson): summation order can flip a 6dp round otherwise
    def microMean(c: Column) = round(
      sum(round(c * 1000000).cast("long")) / (count(lit(1)) * 1000000.0), 6)
    // staged (r16): the cross-group target aggregation and the final
    // join both read the per-(group, tile) table — unstaged, the
    // data-sized ntile sort window beneath it runs twice. The staged
    // table is |groups|·nTiles rows.
    val perGroup = tiled.groupBy(col(groupCol), col("tile"))
      .agg(microMean(col(valueCol)).as("tile_avg_raw"),
        count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { perGroup.unpersist(); () })
    val target = perGroup.groupBy(col("tile"))
      .agg(microMean(col("tile_avg_raw")).as("target"))
    perGroup.join(broadcast(target), Seq("tile"))
      .select(col(groupCol), col("tile"), col("tile_avg_raw"),
        col("target"), col("n"))
  }
}
