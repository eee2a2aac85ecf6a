package graft.ml

import graft.SparkSpec
import graft.metrics.PrivacyMetrics
import graft.ops.Generalization
import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

class ClusteringMlSpec extends SparkSpec {
  import spark.implicits._

  // Two well-separated numeric blobs + a categorical column.
  private lazy val data = {
    val rnd = new Random(7)
    val rows = (1 to 60).map { i =>
      val blob = if (i % 2 == 0) 100.0 else 1000.0
      (i.toLong, blob + rnd.nextInt(10), if (i % 3 == 0) "red" else "blue",
        if (i % 2 == 0) "lo" else "hi")
    }
    rows.toDF("id", "amount", "color", "band")
  }

  test("anonymize produces <= k clusters covering every row") {
    val res = ClusteringAnonymizer.anonymize(data, Seq("amount"), Seq("color"),
      nClusters = 4, seed = 42L)
    val clusters = res.clustered.select("cluster").distinct().as[Int].collect()
    assert(clusters.nonEmpty && clusters.length <= 4)
    assert(res.clustered.count() == 60)
    assert(res.clustered.columns.contains("cluster"))
    // no temp columns leak
    assert(!res.clustered.columns.exists(_.startsWith("__")))
  }

  test("anonymize survives a degenerate 2-distinct-point input asking for 5 clusters") {
    // the shared GraftKMeans contract: MLlib returns fewer than k
    // centers when the data has fewer distinct points; the pipeline must
    // run, cover every row, and generalize sanely — not crash or pad.
    val degenerate = (1 to 10)
      .map(i => (i.toLong, if (i % 2 == 0) 100.0 else 1000.0))
      .toDF("id", "amount")
    val res = ClusteringAnonymizer.anonymize(degenerate, Seq("amount"), Nil,
      nClusters = 5, seed = 42L)
    assert(res.clustered.count() == 10)
    val clusters = res.clustered.select("cluster").distinct().as[Int].collect().toSet
    assert(clusters.size <= 2, s"2 distinct points can't fill 5 clusters: $clusters")
    // each surviving cluster generalizes to its single point value
    val ranges = res.generalized.select("amount").distinct().as[String].collect().toSet
    assert(ranges == Set("100.0-100.0", "1000.0-1000.0"), ranges.toString)
  }

  test("generalized output replaces amounts with per-cluster min-max ranges") {
    // amount-only feature space: the 100s/1000s blobs must be the split
    val res = ClusteringAnonymizer.anonymize(data, Seq("amount"), Nil,
      nClusters = 2, seed = 42L)
    val gen = res.generalized
    assert(gen.schema("amount").dataType.typeName == "string")
    val ranges = gen.select("cluster", "amount").distinct().collect()
    // one range string per cluster
    assert(ranges.length == gen.select("cluster").distinct().count())
    ranges.foreach { r =>
      val Array(lo, hi) = r.getString(1).split("-", 2)
      assert(lo.toDouble <= hi.toDouble)
    }
    // well-separated blobs: the two clusters split 100s from 1000s
    val los = ranges.map(_.getString(1).split("-")(0).toDouble)
    assert(los.exists(_ < 200) && los.exists(_ >= 900))
  }

  test("clustering drives privacy metrics like the reference E2") {
    val res = ClusteringAnonymizer.anonymize(data, Seq("amount"), Seq("color"),
      nClusters = 2, seed = 42L)
    val (report, ncp) = PrivacyMetrics.evaluate(data,
      Generalization.minMaxRanges(res.clustered, "cluster", Seq("amount")), Seq("amount"), k = 5)
    assert(report.kSatisfied) // 60 rows over 2 clusters
    assert(report.reidentificationRisk <= 1.0 / 5)
    assert(ncp > 0.0 && ncp <= 1.0) // ranges collapse the value domain
  }

  test("one-aggregation dictionaries equal StringIndexer alphabetAsc labels") {
    // NULLs, an integer categorical ("10" < "2" as strings), mixed case,
    // non-ASCII, and a double column with NaN
    val odd = Seq[(Option[String], Option[Int], Option[Double])](
      (Some("b"), Some(10), Some(1.5)), (Some("B"), Some(2), Some(Double.NaN)),
      (None, None, None), (Some("été"), Some(10), Some(-0.5)),
      (Some("Zoë"), Some(-3), Some(1.5)), (Some("a"), None, Some(Double.NaN)),
      (Some(""), Some(2), Some(1e10)), (Some("ä"), Some(0), None))
      .toDF("s", "i", "d")
    val cols = Seq("s", "i", "d")
    val built = ClusteringAnonymizer.alphabetLabels(odd, cols).map(_.toSeq).toSeq
    assert(built == ClusteringMlSpec.fittedLabels(odd, cols))
    assert(built(1) == Seq("-3", "0", "10", "2"))
  }

  test("rfAccuracy separates a linearly separable label and is deterministic") {
    val r1 = UtilityMetrics.rfAccuracy(data, "band", Seq("amount", "color"),
      numTrees = 10, seed = 42L)
    val r2 = UtilityMetrics.rfAccuracy(data, "band", Seq("amount", "color"),
      numTrees = 10, seed = 42L)
    assert(r1.accuracy == r2.accuracy) // fixed seed, fixed plan
    assert(r1.accuracy > 0.9, s"accuracy ${r1.accuracy}") // blob -> band is trivial
    assert(r1.trainRows + r1.testRows == 60)
  }

  test("generalizing every QI covers encoded categoricals too (q69 shape)") {
    val res = ClusteringAnonymizer.anonymize(data, Seq("amount"), Seq("color"),
      nClusters = 3, seed = 42L,
      generalizeColsOpt = Some(Seq("amount", "__idx_color")))
    val gen = res.generalized
    assert(gen.schema("amount").dataType.typeName == "string")
    assert(gen.schema("__idx_color").dataType.typeName == "string")
    // exactly one (amount range, code range) pair per cluster
    val perCluster = gen.select("cluster", "amount", "__idx_color").distinct()
    assert(perCluster.count() == gen.select("cluster").distinct().count())
    // categorical ranges are over the label codes: lo-hi, 0 <= lo <= hi
    perCluster.collect().foreach { r =>
      val Array(lo, hi) = r.getString(2).split("-", 2)
      assert(lo.toDouble >= 0 && lo.toDouble <= hi.toDouble)
    }
    // the original string column is untouched
    assert(gen.select("color").distinct().count() == 2)
  }

  test("accuracyDrop compares original vs generalized utility") {
    val res = ClusteringAnonymizer.anonymize(data, Seq("amount"), Seq("color"),
      nClusters = 2, seed = 42L)
    // generalized amount is a string range -> use cluster id as the feature
    val (orig, anon, drop) = UtilityMetrics.accuracyDrop(
      data, res.clustered.withColumn("amount", col("cluster").cast("double")),
      "band", Seq("amount"), numTrees = 10)
    assert(orig.accuracy >= anon.accuracy - 0.2) // anonymization shouldn't ADD signal
    assert(drop.abs <= 1.0)
  }
}

object ClusteringMlSpec {
  /** The reference for [[ClusteringAnonymizer.alphabetLabels]]: the labels
    * of a `StringIndexer` alphabetAsc/keep fit per column. */
  def fittedLabels(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] =
    cols.map(c => new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
      .setStringOrderType("alphabetAsc").setHandleInvalid("keep")
      .fit(df).labelsArray.head.toSeq)
}
