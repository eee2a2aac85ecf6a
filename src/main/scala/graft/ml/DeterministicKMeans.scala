package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Lloyd's k-means in EXACT integer-micro arithmetic with a deterministic
  * init — the clustering-anonymization quantizer (reference E2,
  * clustering-anon.py:37-51) rebuilt so the whole fit REPLAYS BIT-FOR-BIT
  * in any engine, SQL included. MLlib's KMeans (still used by the IVF/PQ
  * trainers, where recall bands are the contract) seeds from k-means||
  * random sampling and averages in IEEE registers, so its assignments are
  * engine-private; an ANONYMIZATION grouping wants the opposite — the
  * same release every run, auditable by an external replay (the q138
  * Mondrian standard, now applied to the reference's own E2 pipeline).
  *
  * Determinism contract, stage by stage:
  *  - standardization ([[assign]] only): per-feature mean/std from EXACT
  *    decimal sums (sample std, the sklearn/MLlib ddof=1 convention), one
  *    IEEE division/sqrt at the edge, then values fix to integer MICROS
  *    (round half-away-from-zero) — all later arithmetic is integral;
  *  - init: the k evenly-spaced elements (ranks ⌊i·nd/k⌋+1, i=0..k−1) of
  *    the DISTINCT micro tuples in ascending tuple order — a
  *    quantile-spread seeding with no randomness; cluster ids are the
  *    seeds' tuple order (0..k−1). Fewer than k distinct tuples yield
  *    fewer centers (the GraftKMeans degenerate contract);
  *  - `iters` fixed Lloyd rounds: assignment = argmin of the exact
  *    integer squared distance, ties to the LOWEST cluster id; update =
  *    count-weighted integer mean per dimension (half-away-from-zero),
  *    empty clusters keep their previous centroid.
  *
  * One core ([[fit]]) runs the protocol for all three entry points: it
  * fits independent groups (`__j`) in shared jobs; [[assign]] and
  * [[fitArrayMicros]] are its one-group case.
  *
  * Scale: points dedupe to DISTINCT (group, micro tuple) rows weighted by
  * count (vocabulary-style state, like BPE training), truncated once; each
  * round is one small aggregation over them, its argmin a UDF closing over
  * the centroids (k·d longs per group, a bounded driver artifact — the
  * PQ-codebook contract). The init's rank pass runs one window per group
  * over the distinct tuples — at a truly huge distinct domain, seed from
  * a hash sample first; QI-style domains are far below the corpus.
  */
object DeterministicKMeans {

  private val Micro = 1e6

  /** One group's centroid micros, indexed by cell id. */
  private type Cells = IndexedSeq[IndexedSeq[Long]]

  /** Half-away-from-zero integer mean of decimal-sum column `s` over
    * count column `n` — the engine's standard replayable division idiom
    * (q252's DOW seasonal means), as the same SQL text the oracle runs. */
  private def intMean(s: String, n: String): Column =
    expr(s"CASE WHEN $s >= 0 THEN (abs($s) * 2 + $n) div ($n * 2) " +
      s"ELSE -((abs($s) * 2 + $n) div ($n * 2)) END").cast("long")

  /** `(group, micros) => cell`: the nearest of the group's `cells` by exact
    * squared distance (`*Exact` arithmetic, so an overflow throws instead
    * of wrapping), ties to the lowest id by the strict `<` over ascending
    * ids. A UDF because per-column `least(struct)` literals pass the 64 KB
    * generated-method limit at IVF's 10 × 64 and `zip_with`/`aggregate`
    * run interpreted. It alone sees a point beside every centroid, so it
    * rejects a vector whose length differs from the fit's. Elements arrive
    * as primitive longs: callers must reject NULLs before here. */
  private def nearest(cells: Map[Int, Cells], name: String): UserDefinedFunction = {
    val byGroup = cells.map { case (j, cs) => j -> cs.map(_.toArray).toArray }
    udf { (j: Int, z: Array[Long]) =>
      val cs = byGroup(j)
      var best = -1
      var bestD = 0L
      var c = 0
      while (c < cs.length) {
        val cv = cs(c)
        require(cv.length == z.length,
          s"$name holds a vector of length ${z.length}; the fit's have ${cv.length}")
        var d = 0L
        var i = 0
        while (i < z.length) {
          val t = Math.subtractExact(z(i), cv(i))
          d = Math.addExact(d, Math.multiplyExact(t, t))
          i += 1
        }
        if (best < 0 || d < bestD) { best = c; bestD = d }
        c += 1
      }
      best
    }
  }

  /** The protocol on `z`'s `(__j int, __z array<long>)` rows, one
    * independent fit per `__j`; returns each group's centroids. */
  private def fit(z: DataFrame, k: Int, iters: Int, name: String): Map[Int, Cells] = {
    require(k >= 1 && iters >= 1, s"k=$k, iters=$iters must be >= 1")
    val pts = graft.util.Truncate(
      z.groupBy(col("__j"), col("__z")).agg(count(lit(1)).as("__cnt")))
    graft.QueryCleanup.register(() => graft.util.Truncate.release(pts))

    val wj = Window.partitionBy(col("__j"))
    var cells: Map[Int, Cells] = pts
      .select(col("__j"), col("__z"),
        row_number().over(wj.orderBy(col("__z"))).as("__rn"),
        count(lit(1)).over(wj).as("__nd"))
      .filter((0 until k).map(i =>
        expr(s"__rn = ($i * __nd) div $k + 1")).reduce(_ || _))
      .orderBy(col("__j"), col("__z"))
      .select(col("__j"), col("__z"))
      .collect()
      // nd < k repeats ranks: fewer centers; groupBy keeps the orderBy order
      .groupBy(_.getInt(0))
      .map { case (j, rows) => j -> rows.toIndexedSeq.map(_.getSeq[Long](1).toIndexedSeq) }

    for (_ <- 1 to iters) {
      val upd = pts.withColumn("__cell", nearest(cells, name)(col("__j"), col("__z")))
        .select(col("__j"), col("__cell"), col("__cnt"),
          posexplode(col("__z")).as(Seq("__d", "__v")))
        .groupBy(col("__j"), col("__cell"), col("__d"))
        .agg(sum((col("__v") * col("__cnt")).cast("decimal(38,0)")).as("__s"),
          sum(col("__cnt")).as("__w"))
        .select(col("__j"), col("__cell"), col("__d"), intMean("__s", "__w"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) => jc -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toIndexedSeq }
      // empty cells keep their previous centroid
      cells = cells.map { case (j, cs) =>
        j -> cs.indices.map(c => upd.getOrElse((j, c), cs(c))) }
    }
    cells
  }

  /** `vecCol` fixed to integer micros; a NULL vector or element fails here. */
  private def micros(vecCol: String): Column = {
    val nullError = raise_error(lit(s"$vecCol holds a NULL vector or element"))
    when(col(vecCol).isNull, nullError).otherwise(
      transform(col(vecCol).cast("array<double>"),
        v => when(v.isNull, nullError).otherwise(round(v * Micro, 0).cast("long"))))
  }

  /** One-group [[fit]] on `withZ`'s `__z`; returns the cells (id, micros)
    * and `withZ` with `__z` replaced by the `out` cell column. */
  private def fitOne(withZ: DataFrame, out: String, k: Int, iters: Int,
                     name: String): (IndexedSeq[(Int, IndexedSeq[Long])], DataFrame) = {
    val cells = fit(withZ.select(lit(0).as("__j"), col("__z")), k, iters, name)
    (cells(0).zipWithIndex.map(_.swap),
      withZ.withColumn(out, nearest(cells, name)(lit(0), col("__z"))).drop("__z"))
  }

  /** Fit on `featureCols` (numeric, non-null — callers own the NA drop,
    * as the reference pipeline does; a NULL fails the fit) and return
    * `df` + an integer `cluster` column. */
  def assign(df: DataFrame, featureCols: Seq[String], k: Int,
             iters: Int = 8): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    // per-feature mean/std from exact decimal sums, cast to double once
    // (the q260 Welch moment idiom, hash-proven cross-engine) — ONE 1-row
    // aggregate for every feature
    val statAggs = featureCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(sum(col(c).cast("decimal(28,6)")).cast("double").as(s"__sx$i"),
        sum((col(c).cast("double") * col(c).cast("double"))
          .cast("decimal(38,12)")).cast("double").as(s"__sxx$i"),
        count(col(c)).as(s"__n$i"))
    }
    val stats = df.agg(statAggs.head, statAggs.tail: _*)

    def zCol(c: String, i: Int): Column = {
      val n = col(s"__n$i").cast("double")
      val mean = col(s"__sx$i") / n
      // unbiased sample variance from the exact moments (q260's shape)
      val variance =
        (col(s"__sxx$i") - col(s"__sx$i") * col(s"__sx$i") / n) / (n - 1)
      val std = sqrt(variance)
      when(col(c).isNull, raise_error(lit(s"$c holds a NULL value")))
        .when(std > 0,
          round((col(c).cast("double") - mean) / std * Micro, 0).cast("long"))
        .otherwise(lit(0L))
    }

    val withZ = df.crossJoin(broadcast(stats)).select(df.columns.map(col) :+
      array(featureCols.zipWithIndex.map((zCol _).tupled): _*).as("__z"): _*)
    fitOne(withZ, "cluster", k, iters, featureCols.mkString(","))._2
  }

  /** [[assign]]'s RAW-VECTOR sibling (the IVF coarse-quantizer shape): no
    * standardization, elements fix straight to integer micros. Returns the
    * centroids in cell order and the input with a `cell` column (argmin
    * against the FINAL centroids); q67's oracle unrolls the fit in SQL. */
  def fitArrayMicros(df: DataFrame, vecCol: String, k: Int,
                     iters: Int = 8): (IndexedSeq[(Int, IndexedSeq[Long])], DataFrame) =
    fitOne(df.withColumn("__z", micros(vecCol)), "cell", k, iters, vecCol)

  /** [[fitArrayMicros]] for MANY INDEPENDENT fits in shared jobs — the
    * product-quantization shape: one Lloyd protocol per `groupCol` value
    * (PQ subspace), but each round is ONE cluster job over the union
    * state instead of |groups| separate fits (8 MLlib fits → 8 shared
    * rounds). Returns group → (cell, centroidMicros) in cell order. */
  def fitGroupedArrayMicros(df: DataFrame, groupCol: String, vecCol: String,
                            k: Int, iters: Int = 8): Map[Int, IndexedSeq[(Int, IndexedSeq[Long])]] =
    fit(df.select(col(groupCol).cast("int").as("__j"), micros(vecCol).as("__z")),
      k, iters, vecCol).map { case (j, cs) => j -> cs.zipWithIndex.map(_.swap) }
}
