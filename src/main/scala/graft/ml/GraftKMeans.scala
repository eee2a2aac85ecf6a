package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.{GraftLloyd, KMeans, KMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

/** The single construction point for every KMeans fit in the engine
  * (IVF coarse quantizer, PQ sub-codebooks, clustering anonymizer), so
  * the fit and its degenerate-input contract live in exactly one place:
  *
  * MLlib's KMeans returns FEWER than k centers when the training data
  * has fewer distinct points (its init dedups seeds) — so consumers must
  * size every downstream structure from the FIT, never from the
  * requested k. [[roundedCenters]] is that sizing point for the two
  * centroid-table consumers; assignment consumers are safe by
  * construction (cluster ids always index actual centers).
  *
  * Scale: the k-means|| init runs distributed (MLlib's own, 7 jobs). The
  * Lloyd rounds are one shuffle job each when distributed, and a fit on
  * the Adult fixture never converges before the 20th, so there the cost
  * is the number of rounds, not the data: the features are collected in
  * one job and the rounds iterate on the driver with MLlib's arithmetic
  * ([[org.apache.spark.mllib.clustering.GraftLloyd]]), so the centers,
  * round count and assignments equal spark.ml `KMeans`'s at the same k,
  * seed and partitioning (GraftKMeansSpec). Inputs past [[onDriver]]'s
  * bounds (32 MB held on the driver, 2^24 distance terms a round) run
  * MLlib's distributed rounds from the same init.
  */
object GraftKMeans {

  /** spark.ml `KMeans` defaults: 20 rounds, tolerance 1e-4. */
  private val MaxIter = 20
  private val Tol = 1e-4

  /** A row of `dims` doubles holds `8 * dims + RowBytes` bytes on the
    * driver: the collected `DenseVector` with its array header, MLlib's
    * `VectorWithNorm` and two array slots (JDK 17, compressed oops;
    * measured after a full GC at 80 B a row at dims 1, 152 B at dims 10). */
  private val RowBytes = 72L
  private val MaxDriverBytes = 32L << 20
  private val MaxDriverTerms = 1L << 24

  /** Whether the Lloyd rounds over `rows` points of `dims` doubles and `k`
    * centers run on the driver: only where they were measured to fit and
    * to win (uniform tables, 20 rounds, `local[2]`, 4 partitions, 4-vCPU
    * VM, 3 GB heap).
    *  - Memory: at most [[MaxDriverBytes]] of points held (the collect
    *    briefly adds its serialized results, `8 * dims + 16` bytes a row).
    *  - Time: at most [[MaxDriverTerms]] distance terms (rows × dims × k)
    *    a round. A driver round is one thread's work; a distributed round
    *    splits it over the task threads but pays a job. The distributed
    *    fit caught up at about 2·10^7 terms (2,000,000 × 1 and 300,000 ×
    *    10, both k = 10) to 10^8 (100,000 × 10, k = 100). At 2^22 cells
    *    and k = 10 it was the faster: 13.1–14.2 s against 16.0 s at dims
    *    1, where the driver held 335 MB of points, and 3.5–3.9 s against
    *    4.0–4.2 s at dims 10.
    * E2's fit on the Adult fixture (29,111 × 10, k = 10: 4.4 MB, 2.9·10^6
    * terms) stays on the driver; a table of that shape fit in 0.5 s there
    * against 1.4 s distributed. */
  private[ml] def onDriver(rows: Long, dims: Int, k: Int): Boolean =
    rows * (8L * dims + RowBytes) <= MaxDriverBytes && rows * dims * k <= MaxDriverTerms

  /** A fitted model: the centers (sized from the data, at most k), the
    * Lloyd rounds run, and `cluster`, each row's center index (int) over
    * the fitted features column — usable on any frame that has it. */
  final case class Fit(centers: IndexedSeq[Vector], numIter: Int, cluster: Column)

  /** Fit `k` centers (seed fixed) to the ml vectors in `featuresCol`. */
  def fit(df: DataFrame, featuresCol: String, k: Int, seed: Long): Fit =
    fitWithin(df, featuresCol, k, seed, onDriver)

  /** [[fit]] with the routing as an argument, so a test can send a small
    * input through either route. */
  private[ml] def fitWithin(df: DataFrame, featuresCol: String, k: Int, seed: Long,
                            driver: (Long, Int, Int) => Boolean): Fit = {
    require(k >= 1, s"k=$k must be at least 1")
    val sc = df.sparkSession.sparkContext
    // counted as the init's first job fills the cache; a recomputed
    // partition only over-counts, which routes to the distributed rounds
    val rows = sc.longAccumulator
    val feats = df.select(featuresCol).rdd.map { r =>
      rows.add(1L)
      val v = r.getAs[Vector](0)
      // spark.ml's fit rejects these too (DatasetUtils.checkNonNanVectors)
      require(v != null, s"$featuresCol holds a null vector")
      v.foreachActive((_, x) =>
        require(!x.isNaN && !x.isInfinite, s"$featuresCol holds NaN or Infinity"))
      OldVectors.fromML(v)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val init = new KMeans().setK(k).setSeed(seed).setMaxIterations(0)
        .run(feats).clusterCenters
      val (centers, numIter) =
        if (driver(rows.sum, init.head.size, init.length))
          GraftLloyd.rounds(feats.glom().collect(), init, MaxIter, Tol)
        else {
          val m = new KMeans().setK(init.length)
            .setInitialModel(new KMeansModel(init))
            .setMaxIterations(MaxIter).setEpsilon(Tol).run(feats)
          (m.clusterCenters, GraftLloyd.numIter(m))
        }
      val model = new KMeansModel(centers)
      val assign = udf((v: Vector) => model.predict(OldVectors.fromML(v)))
      Fit(centers.map(_.asML).toIndexedSeq, numIter, assign(col(featuresCol)))
    } finally releaseOver(feats)
  }

  /** Unpersist `root` and whatever was persisted over it: MLlib's fit
    * persists (and, unless it throws, frees) RDDs derived from its input. */
  private def releaseOver(root: RDD[_]): Unit = {
    def reaches(r: RDD[_]): Boolean =
      r.id == root.id || r.dependencies.exists(d => d.rdd.id >= root.id && reaches(d.rdd))
    root.sparkContext.getPersistentRDDs.values
      .filter(r => r.id >= root.id && reaches(r))
      .foreach(_.unpersist(blocking = false))
  }

  /** Cluster centers sized from the fit (NOT the requested k), each
    * element rounded to 6dp before any routing comparison — the
    * rank-stability contract, with HALF_UP so an oracle replaying
    * trained centroids agrees on exact midpoints (math.rint would round
    * half-to-even). */
  def roundedCenters(fit: Fit): IndexedSeq[IndexedSeq[Double]] =
    fit.centers.map(_.toArray.map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .toIndexedSeq)
}
