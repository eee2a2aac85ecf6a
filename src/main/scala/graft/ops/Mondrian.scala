package graft.ops

import graft.util.Truncate
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mondrian multidimensional k-anonymity (LeFevre, DeWitt & Ramakrishnan,
  * "Mondrian Multidimensional K-Anonymity", ICDE 2006): greedy recursive
  * median cuts of the numeric QI space — at each step the partition's
  * widest (globally normalized) dimension is cut at its median, provided
  * BOTH sides keep at least k rows; a partition with no allowable cut is
  * final. The classic alternative to the reference's KMeans route to the
  * same end state (clustering-anon.py:39-54 clusters then min-max
  * generalizes; Mondrian's cuts are deterministic, parameter-free beyond
  * k, and carry the LeFevre utility guarantee that every final partition
  * has < 2k rows on some dimension's worth of slack).
  *
  * Distributed shape, per cut level (there are O(log(n/k)) levels, each
  * halving the largest partitions) — the cut plan is DataFrame-resident
  * end-to-end; the driver never materializes per-partition state:
  *   1. stats pass — one groupBy(pid) computing count + per-dim
  *      min/max/median; candidate dims are ranked IN-PLAN by sorting an
  *      array of (negWidth, qiIndex, dim, median) structs, so
  *      widest-normalized-first with QI-order tiebreak needs no driver
  *      logic.
  *   2. side-count pass — the candidate table (one row per cuttable
  *      partition, ≤ n/2k rows of 3 narrow columns) broadcast-joins back
  *      onto the data; one groupBy(pid) counts rows ≤ median per dim, so
  *      cut admissibility (both sides ≥ k) is decided on EXACT counts,
  *      never assumed from the median's position (ties at the median make
  *      the ≤ side fat; this pass is what catches that). The chosen cut
  *      per pid is `element_at(filter(sorted dims, admissible), 1)` —
  *      again in-plan.
  *   3. reassign — broadcast-join the (pid → dim, median) cut table and
  *      renumber pid -> 2·pid+1 / 2·pid+2 in one codegen'd projection.
  * Driver-side state per level is ONE long (the split count that drives
  * loop termination); the only row-valued collect in the whole algorithm
  * is the single-row global-range probe before the loop. The cut table
  * itself moves driver→executors only through Spark's broadcast machinery
  * (torrent, spill-backed), the same contract as any broadcast join.
  * Exact `percentile` keeps the oracle-grade determinism contract of the
  * rest of the library; at extreme per-partition cardinality swap in
  * `approx_percentile` (the cut stays admissible because step 2 verifies
  * sides on exact counts regardless of how the pivot was picked).
  *
  * Levels are capped at 40 both as the pid-overflow guard (pids live in
  * the binary-heap numbering, bounded by 2^(levels+1)) and as a runaway
  * stop: 2^40 partitions exceeds any real n/k.
  */
object Mondrian {

  /** Eager truncation + stats reset. `Dataset.localCheckpoint`
    * snapshots the ORIGIN plan's estimated statistics into the new
    * LogicalRDD leaf, and Catalyst's size-only estimator multiplies
    * children's sizeInBytes through joins. `cur` feeds this loop's join
    * chain several times per level, so the snapshotted BigInt's bit
    * length would grow ~4x PER LEVEL — by level ~12 the driver spends
    * tens of seconds per level in BigInteger.multiply inside
    * SizeInBytesOnlyStatsPlanVisitor (measured: 20.6 s at level 13 of
    * the 10x stress, with constant stage count and executor time).
    * Re-wrapping the checkpointed rows via createDataFrame yields a
    * fresh LogicalRDD with the DEFAULT constant-width size estimate,
    * so per-level stats arithmetic stays O(1). Broadcast decisions are
    * unaffected: every small side in this loop carries an explicit
    * broadcast() hint. [[Truncate.release]] walks down through the
    * wrapper to the checkpointed RDD. */
  private def checkpointResetStats(df: DataFrame): DataFrame = {
    val ck = Truncate(df)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Assign a Mondrian partition id (`pid`) to every row. Rows are never
    * dropped or modified; `pid` values are the binary-heap numbering of
    * the final cut tree (stable across runs — the whole algorithm is
    * deterministic: exact medians, widest-dim-first with the QI list
    * order as the tiebreak). */
  def assignPartitions(df: DataFrame, qiCols: Seq[String], k: Int,
                       maxLevels: Int = 40): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(qiCols.nonEmpty, "need at least one QI column")
    require(maxLevels >= 1 && maxLevels <= 40, s"maxLevels=$maxLevels out of [1,40]")

    // Global per-dim ranges normalize cut-dimension choice (LeFevre §4's
    // relative width); a zero-range dim can never be cut. One row total.
    val gRow = df.agg(
      qiCols.map(c => struct(min(col(c).cast("double")),
        max(col(c).cast("double"))).as(c)).head,
      qiCols.tail.map(c => struct(min(col(c).cast("double")),
        max(col(c).cast("double"))).as(c)): _*).head()
    val gRange: Map[String, Double] = qiCols.map { c =>
      val s = gRow.getAs[Row](c)
      c -> math.max(s.getDouble(1) - s.getDouble(0), 0.0)
    }.toMap

    // Eager truncation rather than persist: every level derives
    // THREE plans from `cur` (stats, side counts, reassign), so an
    // accumulated join lineage is re-analyzed several times per level
    // and planning cost grows superlinearly in the level count (measured
    // 676 s at 10x sf0.1 with persist-only vs ~40 s checkpointed).
    // Checkpointing keeps each level's plans constant-size.
    val leaves = Truncate.leaves()
    var cur = leaves.keep(checkpointResetStats(df.withColumn("pid", lit(0L))))
    var level = 0
    var open = true
    while (open && level < maxLevels) {
      // (1) stats: count + min/max/median per dim, one row per partition,
      // with candidate dims ranked in-plan (ascending struct sort on
      // (negWidth, qiIndex) == widest-normalized-first, QI-order ties).
      val aggs = count(lit(1)).as("__n") +: qiCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"),
        expr(s"percentile(CAST(`$c` AS DOUBLE), 0.5)").as(s"__md_$c")))
      val dimStructs: Seq[Column] = qiCols.zipWithIndex.map { case (c, i) =>
        val negW =
          if (gRange(c) > 0)
            (col(s"__mn_$c") - col(s"__mx_$c")) / lit(gRange(c))
          else lit(0.0)
        struct(negW.as("negw"), lit(i).as("qidx"),
          lit(c).as("dim"), col(s"__md_$c").as("med"))
      }
      // Eagerly checkpointed (≤ n/2k tiny rows): the broadcast below and
      // the splitDf join both consume `cand`; leaving it lazy makes the
      // broadcast thread and the main job race to compute the stats agg
      // inside one job (measured 10x: 129 s lazy vs ~40 s materialized).
      val cand = Truncate(cur.groupBy(col("pid")).agg(aggs.head, aggs.tail: _*)
        .filter(col("__n") >= lit(2L * k))
        .withColumn("__dims",
          sort_array(filter(array(dimStructs: _*), d => d("negw") < 0)))
        .filter(size(col("__dims")) > 0)
        .select(col("pid") +: col("__dims") +:
          qiCols.map(c => col(s"__md_$c")): _*))

      // (2) exact side counts for every candidate (pid, dim) median, then
      // the in-plan cut choice: first dim in ranked order with >= k rows
      // on BOTH sides of its median.
      val sideAggs = count(lit(1)).as("__sn") +: qiCols.map(c =>
        sum(when(col(c).cast("double") <= col(s"__md_$c"), 1L).otherwise(0L))
          .as(s"__le_$c"))
      val sides = cur
        .join(broadcast(cand.select(col("pid") +: qiCols.map(c => col(s"__md_$c")): _*)),
          Seq("pid"))
        .groupBy(col("pid")).agg(sideAggs.head, sideAggs.tail: _*)
      val leMap = map(qiCols.flatMap(c => Seq(lit(c), col(s"__le_$c"))): _*)
      val chosen = try_element_at(
        filter(col("__dims"), d =>
          element_at(leMap, d("dim")) >= lit(k.toLong) &&
            col("__sn") - element_at(leMap, d("dim")) >= lit(k.toLong)), lit(1))
      // The cut table stays executor-resident; the eager truncation cuts
      // its lineage so next level's plan does NOT nest this level's
      // (cur ⨝ f(cur) would otherwise grow the logical plan
      // exponentially in the level count). The ONLY driver-bound value
      // per level, the split count, is observed by the same job.
      val (splitDf, m) = Truncate.observed(
        cand.select("pid", "__dims").join(sides, Seq("pid"))
          .withColumn("__cut", chosen)
          .filter(col("__cut").isNotNull)
          .select(col("pid"), col("__cut")("dim").as("__sdim"),
            col("__cut")("med").as("__smed")))(count(lit(1)).as("n"))
      if (m("n") == 0L) open = false
      else {
        // (3) reassign: broadcast the cut table, renumber in one pass.
        val isLeft = qiCols.foldLeft(lit(false)) { (acc, c) =>
          when(col("__sdim") === c, col(c).cast("double") <= col("__smed"))
            .otherwise(acc)
        }
        val next = cur.join(broadcast(splitDf), Seq("pid"), "left")
          .withColumn("pid",
            when(col("__sdim").isNull, col("pid"))
              .when(isLeft, col("pid") * 2 + 1)
              .otherwise(col("pid") * 2 + 2))
          .drop("__sdim", "__smed")
        // materializes, truncates lineage, resets stats; frees the old cur
        cur = leaves.supersede(checkpointResetStats(next))
        level += 1
      }
      Truncate.release(cand); Truncate.release(splitDf)
    }
    cur
  }

  /** Full Mondrian anonymization: partition, then replace each QI value
    * with its partition's "min-max" range string (the reference's
    * generalization render, clustering-anon.py:51) and attach the
    * partition size — the k-anonymity certificate — as `group_size`. */
  def anonymize(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    val withPid = assignPartitions(df, qiCols, k)
    val w = Window.partitionBy(col("pid"))
    val generalized = qiCols.foldLeft(withPid) { (d, c) =>
      d.withColumn(s"${c}_range",
        concat_ws("-", min(col(c)).over(w).cast("string"),
          max(col(c)).over(w).cast("string")))
    }
    generalized.withColumn("group_size", count(lit(1)).over(w))
  }
}
