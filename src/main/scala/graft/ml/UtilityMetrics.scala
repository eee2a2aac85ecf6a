package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame

/** The reference's utility-evaluation block (M1-M6): train a RandomForest
  * on (possibly anonymized) features to predict a label, report accuracy,
  * and compare original-vs-anonymized accuracy (naive-suppresion.py:87-118,
  * t-closeness.py:146-176, clustering-anon.py:95-113).
  *
  * Feature prep: every non-label column is used; string columns are
  * label-encoded in alphabetAsc order (sklearn LabelEncoder parity, M1) by
  * one prebuilt `StringIndexerModel` whose labels come from one aggregation
  * over the train split ([[ClusteringAnonymizer.alphabetLabels]], the
  * labels a `StringIndexer` fit per column would find, at 2 jobs instead
  * of 2 per column).
  * Split is randomSplit(0.7/0.3, seed) (M4). Accuracy numbers are NOT
  * bit-comparable with sklearn (different RNG/tree impl); callers assert
  * tolerance bands (SURVEY §5 item 4).
  */
final case class UtilityReport(accuracy: Double, trainRows: Long, testRows: Long)

object UtilityMetrics {

  /** RF accuracy of predicting `labelCol` from `featureCols` (strings are
    * auto-indexed). */
  def rfAccuracy(df: DataFrame, labelCol: String, featureCols: Seq[String],
                 numTrees: Int = 100, seed: Long = 42L): UtilityReport = {
    val stringCols = df.schema.fields
      .filter(f => featureCols.contains(f.name) && f.dataType.typeName == "string")
      .map(_.name).toSeq
    val indexed = stringCols :+ labelCol
    val features = featureCols.map(c => if (stringCols.contains(c)) s"__idx_$c" else c)
    val assembler = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("__features")
      .setHandleInvalid("skip")
    val rf = new RandomForestClassifier()
      .setLabelCol(s"__idx_$labelCol").setFeaturesCol("__features")
      .setNumTrees(numTrees).setSeed(seed)

    val Array(train, test) = df.randomSplit(Array(0.7, 0.3), seed) // M4
    // The fit re-reads its input several times (the label aggregation, the
    // RF's internal RDD build) plus transform/evaluate/counts — each scan
    // of an uncached randomSplit re-runs the upstream plan. Persist both
    // splits for the fit's lifetime.
    train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    test.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val indexer = new StringIndexerModel(ClusteringAnonymizer.alphabetLabels(train, indexed))
        .setInputCols(indexed.toArray).setOutputCols(indexed.map(c => s"__idx_$c").toArray)
        .setHandleInvalid("keep")
      val model = new Pipeline().setStages(Array(indexer, assembler, rf)).fit(train)
      val predictions = model.transform(test)
      val accuracy = new MulticlassClassificationEvaluator()
        .setLabelCol(s"__idx_$labelCol").setPredictionCol("prediction")
        .setMetricName("accuracy") // M6
        .evaluate(predictions)
      UtilityReport(accuracy, train.count(), test.count())
    } finally {
      train.unpersist()
      test.unpersist()
    }
  }

  /** The reference's headline comparison: accuracy on original vs
    * anonymized data (same label/features/config). The two fits are
    * independent (separate inputs, separate models) and individually far
    * from saturating a cluster's task slots, so they run CONCURRENTLY
    * through [[graft.util.Concurrent.both]] — Spark's scheduler interleaves
    * their jobs, both fits stay in the caller's cleanup scope, and both
    * settle before a failure is rethrown. Results are deterministic either
    * way (each fit is seeded and self-contained). */
  def accuracyDrop(original: DataFrame, anonymized: DataFrame, labelCol: String,
                   featureCols: Seq[String], numTrees: Int = 100,
                   seed: Long = 42L): (UtilityReport, UtilityReport, Double) = {
    val (o, a) = graft.util.Concurrent.both(
      rfAccuracy(original, labelCol, featureCols, numTrees, seed),
      rfAccuracy(anonymized, labelCol, featureCols, numTrees, seed))
    (o, a, o.accuracy - a.accuracy)
  }
}
