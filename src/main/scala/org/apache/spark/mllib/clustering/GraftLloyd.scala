package org.apache.spark.mllib.clustering

import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}

/** MLlib's Lloyd rounds (`KMeans.runAlgorithmWithWeight`) over points held
  * on the driver, for [[graft.ml.GraftKMeans]]. It lives in MLlib's package
  * because the arithmetic is MLlib's own, not a copy: `findClosest` with
  * the centers' statistics, `updateClusterSum`, `centroid` (sum scaled by
  * `1 / weight`) and `isCenterConverged` (squared distance ≤ tol²) of the
  * Euclidean measure. What the distributed round adds around them is
  * replayed exactly:
  *  - a partition's sums start at zero and add its points in row order;
  *  - partials with weight > 0 merge in partition order, the order a
  *    local-mode `reduceByKey` merges them (`axpy(1.0, next, acc)`);
  *  - a cluster no point chose keeps its center;
  *  - statistics are computed below 1,000 centers, as MLlib does (its
  *    distributed form computes the same per-pair values).
  */
object GraftLloyd {

  private val measure = new EuclideanDistanceMeasure

  /** Rounds from `init` over `parts` (one array per partition, in
    * partition order) until every center moves at most `tol` or after
    * `maxIter` rounds: the final centers and the rounds run. */
  def rounds(parts: Array[Array[Vector]], init: Array[Vector], maxIter: Int,
             tol: Double): (Array[Vector], Int) = {
    val points = parts.map(_.map(new VectorWithNorm(_)))
    val centers = init.map(new VectorWithNorm(_))
    val k = centers.length
    val dims = centers.head.vector.size
    var converged = false
    var iteration = 0
    while (iteration < maxIter && !converged) {
      val stats = Option.when(DistanceMeasure.shouldComputeStatistics(k))(
        measure.computeStatistics(centers))
      val sums = new Array[Vector](k)
      val weights = new Array[Double](k)
      points.foreach { part =>
        val partSums = Array.fill(k)(Vectors.zeros(dims))
        val partWeights = new Array[Double](k)
        part.foreach { p =>
          val best = measure.findClosest(centers, stats, p)._1
          measure.updateClusterSum(p, partSums(best))
          partWeights(best) += p.weight
        }
        for (j <- 0 until k if partWeights(j) > 0) {
          if (sums(j) == null) sums(j) = partSums(j)
          else BLAS.axpy(1.0, partSums(j), sums(j))
          weights(j) += partWeights(j)
        }
      }
      converged = true
      for (j <- 0 until k if sums(j) != null) {
        val next = measure.centroid(sums(j), weights(j))
        if (converged && !measure.isCenterConverged(centers(j), next, tol)) converged = false
        centers(j) = next
      }
      iteration += 1
    }
    (centers.map(_.vector), iteration)
  }

  /** The rounds a distributed fit ran (`numIter` is Spark-private). */
  def numIter(model: KMeansModel): Int = model.numIter
}
