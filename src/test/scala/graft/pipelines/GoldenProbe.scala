package graft.pipelines

import graft.schema.AdultSchema
import graft.sources.CsvSource
import graft.ml.UtilityMetrics
import graft.ops.TCloseness

/** One-shot probe that prints the golden metric values for
  * AdultGoldenSpec. Not a test; run with
  * `sbt "Test/runMain graft.pipelines.GoldenProbe"`. */
object GoldenProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSpec.spark
    val t0 = System.nanoTime()
    val dir = graft.SparkSpec.tempDir("adult_golden")
    CsvSource.write(AdultFixture.raw(spark), dir)
    val df = AdultSchema.load(spark, dir).cache()
    println(s"RAW=32561 LOADED=${df.count()}")

    val qis = AdultSchema.quasiIdentifiers
    // E1
    val e1 = NaiveSuppressionPipeline.run(df, qis, k = 5)
    println(s"E1 report=${e1.report}")
    println(s"E1 ncp=${e1.ncp}")

    // E3 (intended semantics): bin age->5, capitals->3, k=5, t=0.2
    val withOrd = TCloseness.ordinal(df, "income", "income_pos")
    val e3 = TClosenessPipeline.run(withOrd, qis, "income_pos", k = 5, t = 0.2,
      binCols = Map("age" -> 5, "capital_gain" -> 3, "capital_loss" -> 3))
    println(s"E3 report=${e3.report}")
    println(s"E3 ncp=${e3.ncp}")
    println(s"E3 violations=${TClosenessPipeline.violations(e3, qis, "income_pos", 0.2)}")

    // E2: 10 clusters over all 10 QIs (numeric age/cg/cl + encoded cats)
    val numeric = Seq("age", "capital_gain", "capital_loss")
    val cats = qis.filterNot(numeric.contains)
    val (res, rep2, ncp2) = ClusteringPipeline.run(df, numeric, cats, nClusters = 10)
    println(s"E2 report=$rep2")
    println(s"E2 ncp=$ncp2")
    println(s"E2 clustered=${res.clustered.count()}")

    // Utility: accuracy drop orig vs E3-anonymized (reference: RF 50 trees)
    val feats = qis
    val (o, a, drop) = UtilityMetrics.accuracyDrop(
      withOrd.drop("income_pos"), e3.anonymized.drop("income_pos"),
      "income", feats, numTrees = 50)
    println(s"UTIL orig=${o.accuracy} anon=${a.accuracy} drop=$drop")
    println(s"ELAPSED=${(System.nanoTime() - t0) / 1e9}")
  }
}
