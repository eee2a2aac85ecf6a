package graft.ml

import graft.{QueryCleanup, SourceScan, SparkSpec}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.mllib.clustering.GraftLloyd
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** [[GraftKMeans.fit]] against spark.ml `KMeans` at the same k, seed and
  * partitioning, on generated dense tables: the centers bit for bit, the
  * round count (`summary.numIter`) and every row's cluster id must be
  * equal, on the driver rounds and on the distributed ones alike. The
  * tables cover a fit that converges early, fewer distinct points than k,
  * duplicated points and distance ties, k = 1 and empty partitions.
  * ScalaCheck runs directly with a fixed seed and no shrinking (every
  * case is several Spark jobs), so every run checks the same tables. */
class GraftKMeansSpec extends SparkSpec {
  import GraftKMeansSpec._

  private val schema = new StructType().add("id", LongType).add("f", SQLDataTypes.VectorType)

  private def frame(c: Case): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(c.points.zipWithIndex.map { case (p, i) =>
      Row(i.toLong, Vectors.dense(p.toArray)) }, c.slices), schema)

  private def bits(cs: Seq[Vector]): Seq[Seq[Long]] =
    cs.map(_.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits))

  private def ids(rows: Array[Row]): Map[Long, Int] =
    rows.map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** spark.ml's fit: centers, rounds and per-row cluster ids. spark.ml
    * rejects k = 1, so there it is the MLlib fit spark.ml's row solver
    * runs, at the same seed over the same partitions. */
  private def reference(df: DataFrame, k: Int, seed: Long): (Seq[Vector], Int, Map[Long, Int]) =
    if (k > 1) {
      val m = new KMeans().setK(k).setSeed(seed).setFeaturesCol("f").fit(df)
      (m.clusterCenters.toSeq, m.summary.numIter,
        ids(m.transform(df).select("id", "prediction").collect()))
    } else {
      val rows = df.select("id", "f").collect()
      val m = new org.apache.spark.mllib.clustering.KMeans().setK(k).setSeed(seed)
        .run(df.select("f").rdd.map(r => OldVectors.fromML(r.getAs[Vector](0))))
      (m.clusterCenters.toSeq.map(_.asML), GraftLloyd.numIter(m),
        ids(rows.map(r => Row(r.getLong(0), m.predict(OldVectors.fromML(r.getAs[Vector](1)))))))
    }

  /** "" when the fits agree, else what differs. */
  private def compare(c: Case): String = {
    val df = frame(c)
    val (centers, rounds, refIds) = reference(df, c.k, c.seed)
    Seq("driver" -> true, "distributed" -> false).flatMap { case (route, onDriver) =>
      val fit = GraftKMeans.fitWithin(df, "f", c.k, c.seed, (_, _, _) => onDriver)
      Seq(
        Option.when(bits(fit.centers) != bits(centers))(
          s"$route centers ${fit.centers} != $centers"),
        Option.when(fit.numIter != rounds)(s"$route rounds ${fit.numIter} != $rounds"),
        Option.when(ids(df.select(col("id"), fit.cluster).collect()) != refIds)(
          s"$route assignments differ")).flatten
    }.mkString("; ")
  }

  private def check(name: String, gen: Gen[Case], cases: Int): Unit = {
    val prop = Prop.forAllNoShrink(gen) { c =>
      val diff = compare(c)
      Prop(diff.isEmpty) :| s"$c: $diff"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withWorkers(1).withInitialSeed(Seed(42L))
    val result = Test.check(params, prop)
    QueryCleanup.drain()
    assert(result.passed, s"$name: ${result.status}")
  }

  test("well-separated blobs: the fit converges before 20 rounds") {
    check("blobs", blobs, 6)
    assert(compare(blobs.pureApply(Gen.Parameters.default, Seed(7L))).isEmpty)
  }

  test("gaussian tables run up to 20 rounds") {
    check("gaussian", gaussian, 8)
  }

  test("integer grids: duplicated points, distance ties, empty partitions") {
    check("grid", grid, 15)
  }

  test("fewer distinct points than k yields fewer centers, as MLlib's does") {
    check("degenerate", degenerate, 6)
    val c = Case(Seq.fill(12)(Seq(1.0, 2.0)) ++ Seq.fill(5)(Seq(3.0, 0.0)), k = 5,
      slices = 3, seed = 11L)
    assert(GraftKMeans.fit(frame(c), "f", c.k, c.seed).centers.size == 2)
    assert(compare(c).isEmpty)
  }

  test("k = 1") {
    check("k1", gaussian.map(_.copy(k = 1)), 4)
  }

  test("a fit converging early reports its round count") {
    val c = blobs.pureApply(Gen.Parameters.default, Seed(3L))
    val fit = GraftKMeans.fit(frame(c), "f", c.k, c.seed)
    assert(fit.numIter < 20, s"${fit.numIter} rounds")
  }

  test("the fit rejects NaN features, like spark.ml's") {
    val c = Case(Seq(Seq(1.0), Seq(Double.NaN), Seq(2.0)), k = 2, slices = 2, seed = 1L)
    val e = intercept[org.apache.spark.SparkException](
      GraftKMeans.fit(frame(c), "f", c.k, c.seed))
    assert(e.getMessage.contains("NaN or Infinity"))
  }

  // TruncateSpec's leak check for the callers of the fit: nothing the fit
  // persisted survives it, whether it returns or throws.
  private def leakCase(name: String)(run: => Unit): Unit =
    test(s"$name frees every RDD the fit persisted") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      QueryCleanup.drain()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked persisted RDD ids: $leaked")
    }

  private def vectors = {
    import spark.implicits._
    (1 to 60).map(i => (i.toLong, Array.tabulate(4)(d => ((i * (d + 3)) % 11).toFloat)))
      .toDF("vec_id", "embedding")
  }

  leakCase("ClusteringPipeline.run") {
    import spark.implicits._
    val df = (1 to 50).map(i => (20 + i % 30, (i * 37) % 1000, s"c${i % 4}"))
      .toDF("age", "gain", "cat")
    val (res, _, _) = graft.pipelines.ClusteringPipeline.run(df, Seq("age", "gain"),
      Seq("cat"), nClusters = 3)
    res.generalized.collect()
    // the clustered rows are cached for the caller, who frees them
    res.clustered.unpersist(blocking = true)
  }
  leakCase("Similarity.trainIvf") {
    val idx = graft.ops.Similarity.trainIvf(vectors, "vec_id", "embedding", nlist = 3)
    idx.assignments.collect()
  }
  leakCase("Similarity.trainPq") {
    graft.ops.Similarity.trainPq(vectors, "embedding", m = 2, ksub = 4)
  }
  leakCase("a fit that throws (empty input)") {
    val empty = frame(Case(Nil, k = 2, slices = 2, seed = 1L))
    intercept[IllegalArgumentException](GraftKMeans.fit(empty, "f", 2, 1L))
  }
  leakCase("a distributed fit") {
    GraftKMeans.fitWithin(frame(blobs.pureApply(Gen.Parameters.default, Seed(5L))),
      "f", 3, 5L, (_, _, _) => false)
  }

  test("the driver rounds take what fits and wins there, and no more") {
    assert(GraftKMeans.onDriver(29111, 10, 10)) // E2 on the Adult fixture
    assert(GraftKMeans.onDriver(100000, 10, 10))
    assert(GraftKMeans.onDriver(250000, 1, 10))
    // where the distributed rounds were measured as fast or faster, or
    // the points would hold over 32 MB on the driver
    assert(!GraftKMeans.onDriver(1L << 22, 1, 10))
    assert(!GraftKMeans.onDriver(419430, 10, 10))
    assert(!GraftKMeans.onDriver(300000, 10, 10))
    assert(!GraftKMeans.onDriver(200000, 10, 30))
    assert(!GraftKMeans.onDriver(100000, 10, 100))
    assert(!GraftKMeans.onDriver(1000000, 1, 1))
  }

  test("no module outside GraftKMeans constructs an MLlib or spark.ml KMeans") {
    val offenders = SourceScan.files.filterNot(_.getPath.endsWith("graft/ml/GraftKMeans.scala"))
      .flatMap(f => kmeansUses(SourceScan.code(f)).map(m => s"${f.getPath}: $m"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the scan sees every way in, and not the model classes
    Seq("new org.apache.spark.ml.clustering.KMeans()",
      "import org.apache.spark.mllib.clustering.{KMeans => K}",
      "import org.apache.spark.ml.clustering._",
      "import org.apache.spark.mllib.clustering\nclustering.KMeans.train(rdd, 2, 5)",
      "package org.apache.spark.mllib.clustering\nobject X { new KMeans() }")
      .foreach(src => assert(kmeansUses(src).nonEmpty, src))
    assert(kmeansUses("import org.apache.spark.mllib.clustering.{GraftLloyd, KMeansModel}\n" +
      "new KMeansModel(centers); DeterministicKMeans.assign(df)").isEmpty)
  }
}

object GraftKMeansSpec {
  final case class Case(points: Seq[Seq[Double]], k: Int, slices: Int, seed: Long) {
    override def toString: String =
      s"Case(${points.size} rows × ${points.headOption.fold(0)(_.size)}, k=$k, " +
        s"slices=$slices, seed=$seed, first=${points.take(3)})"
  }

  /** References that can reach the KMeans estimators: the class itself by
    * qualified name or import (wildcards included), or any mention of it
    * inside their own package. `\bKMeans\b` never matches `KMeansModel`. */
  def kmeansUses(code: String): Seq[String] = {
    val qualified = "\\bclustering\\.(KMeans\\b|_|\\{[^}]*\\bKMeans\\b[^}]*\\})".r
    val inPackage = "(?m)^\\s*package\\s+org\\.apache\\.spark\\.ml(lib)?\\.clustering\\b".r
    qualified.findAllIn(code).toSeq ++
      (if (inPackage.findFirstIn(code).isDefined) "\\bKMeans\\b".r.findAllIn(code).toSeq else Nil)
  }

  private def table(n: Gen[Int], dims: Gen[Int], value: Gen[Double],
                    k: Gen[Int], slices: Gen[Int]): Gen[Case] = for {
    d <- dims
    rows <- n
    points <- Gen.listOfN(rows, Gen.listOfN(d, value))
    kk <- k
    s <- slices
    seed <- Gen.choose(0L, 10000L)
  } yield Case(points, kk, s, seed)

  /** Points on {-2..2}^d: duplicates and equidistant centers are common,
    * and with up to 8 slices over as few as 3 rows, partitions are empty. */
  val grid: Gen[Case] = table(Gen.choose(3, 60), Gen.choose(1, 3),
    Gen.choose(-2, 2).map(_.toDouble), Gen.choose(1, 6), Gen.choose(1, 8))

  val gaussian: Gen[Case] = table(Gen.choose(40, 300), Gen.choose(1, 5),
    Gen.gaussian(0.0, 1.0), Gen.choose(2, 8), Gen.choose(1, 6))

  /** 1-3 distinct points, repeated, and k above their count. */
  val degenerate: Gen[Case] = for {
    d <- Gen.choose(1, 3)
    m <- Gen.choose(1, 3)
    distinct <- Gen.listOfN(m, Gen.listOfN(d, Gen.choose(-5, 5).map(_.toDouble)))
    points <- Gen.listOfN(30, Gen.oneOf(distinct))
    k <- Gen.choose(m + 1, m + 4)
    s <- Gen.choose(1, 5)
    seed <- Gen.choose(0L, 10000L)
  } yield Case(points, k, s, seed)

  /** Three blobs 100 apart with unit noise, k = 3. */
  val blobs: Gen[Case] = for {
    d <- Gen.choose(1, 4)
    points <- Gen.listOfN(90, for {
      b <- Gen.choose(0, 2)
      noise <- Gen.listOfN(d, Gen.gaussian(0.0, 1.0))
    } yield noise.map(_ + 100.0 * b))
    s <- Gen.choose(1, 4)
    seed <- Gen.choose(0L, 10000L)
  } yield Case(points, 3, s, seed)
}
