package graft.ml

import graft.ops.Generalization
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{StandardScaler, StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}

/** The reference's E2 pipeline (clustering-anon.py:37-51) as a spark.ml
  * Pipeline: label-encode categorical QIs (M1, alphabetAsc for sklearn
  * LabelEncoder parity), assemble + standardize features (M2), KMeans into
  * k anonymization groups (M3, seed fixed), then per-cluster min-max
  * generalization (A9/F3 via Generalization.generalize).
  *
  * M1's dictionaries come from ONE aggregation ([[alphabetLabels]]) into a
  * prebuilt `StringIndexerModel`: on the Adult fixture's seven categoricals
  * a `StringIndexer` fit per column ran 14 jobs in 1.33 s, the aggregation
  * runs 2 in 0.19 s (warm, `local[4]`), and the labels are the same.
  *
  * Cluster ASSIGNMENTS are not bit-comparable with sklearn (different
  * init/rounding; SURVEY §7.4) — tests assert invariants (k clusters,
  * generalized QI domain = cluster ranges), never label equality.
  *
  * Scale: KMeans is driver-coordinated Lloyd iterations — one pass over
  * the data per iteration, centroid state is k×dims doubles broadcast each
  * step; generalization adds one groupBy(cluster) + broadcast join. Both
  * hold at 100 TB (cost is the iteration scans, trivially parallel).
  */
final case class ClusteringResult(
    clustered: DataFrame,   // input + `cluster` column
    generalized: DataFrame) // QI values replaced by cluster min-max ranges

object ClusteringAnonymizer {

  /** Cluster on (numericCols ++ label-encoded categoricalCols), then
    * generalize `generalizeCols` (default: the numeric QIs) to per-cluster
    * ranges. */
  def anonymize(df: DataFrame, numericCols: Seq[String],
                categoricalCols: Seq[String], nClusters: Int,
                seed: Long = 42L,
                generalizeColsOpt: Option[Seq[String]] = None): ClusteringResult = {
    val indexer = Option.when(categoricalCols.nonEmpty)(
      new StringIndexerModel(alphabetLabels(df, categoricalCols))
        .setInputCols(categoricalCols.toArray)
        .setOutputCols(categoricalCols.map(c => s"__idx_$c").toArray)
        .setHandleInvalid("keep"))
    val features = numericCols ++ categoricalCols.map(c => s"__idx_$c")
    val assembler = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("__features_raw")
    val scaler = new StandardScaler()
      .setInputCol("__features_raw").setOutputCol("__features")
      .setWithMean(true).setWithStd(true) // sklearn StandardScaler defaults (M2)
    // shared construction point: degenerate inputs may yield fewer than
    // nClusters centers; downstream sizes from predictions, never from k
    val kmeans = GraftKMeans.estimator(nClusters, seed, "__features", "cluster")
    val pipeline = new Pipeline().setStages((indexer.toSeq :+ assembler :+ scaler :+ kmeans).toArray)

    val model = pipeline.fit(df)
    val genCols = generalizeColsOpt.getOrElse(numericCols)
    // Encoded-categorical columns survive when they are themselves being
    // generalized (clustering-anon.py:51 generalizes EVERY QI, encoded
    // categoricals included — their cluster range is over the label codes).
    val dropCols = categoricalCols.map(c => s"__idx_$c")
      .filterNot(genCols.contains) :+ "__features_raw" :+ "__features"
    val clustered = model.transform(df).drop(dropCols: _*)
    ClusteringResult(clustered,
      Generalization.generalize(clustered, "cluster", genCols))
  }

  /** Each column's `StringIndexer` alphabetAsc labels from one aggregation:
    * `array_sort` is the string order of the fit's `distinct().sort()`, and
    * like the fit it casts to string, reads NaN as NULL and gives NULL no
    * label (ClusteringMlSpec checks the labels against the fit's). */
  private[graft] def alphabetLabels(df: DataFrame, cols: Seq[String]): Array[Array[String]] = {
    val sets = cols.map { c =>
      val v = df.schema(c).dataType match {
        case DoubleType | FloatType => when(!isnan(col(c)), col(c))
        case _ => col(c)
      }
      array_sort(collect_set(v.cast(StringType)))
    }
    val row = df.agg(sets.head, sets.tail: _*).head()
    cols.indices.map(i => row.getSeq[String](i).toArray).toArray
  }

  /** [[anonymize]] with [[DeterministicKMeans]] in place of MLlib's —
    * identical pipeline semantics (alphabetAsc label encode,
    * standardize, cluster, per-cluster min-max generalize) but every
    * stage replays bit-for-bit in plain SQL, so the E2 release is
    * oracle-checkable end to end (the q45/q69 path; MLlib stays behind
    * [[anonymize]] for the recall-band trainers).
    *
    * Label encoding here is the broadcast form of alphabetAsc: the tiny
    * distinct-value table ranks once (row_number over value order, 0-
    * based — sklearn LabelEncoder parity) and joins back, instead of
    * StringIndexer's driver-collected labels array — same codes, no
    * whole-column collect. */
  def anonymizeDeterministic(df: DataFrame, numericCols: Seq[String],
                             categoricalCols: Seq[String], nClusters: Int,
                             iters: Int = 8,
                             generalizeColsOpt: Option[Seq[String]] = None,
                             memoKey: Option[String] = None): ClusteringResult = {
    var encoded = df
    categoricalCols.foreach { c =>
      val codes = df.select(col(c)).distinct()
        .select(col(c), (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col(c))) - 1)
          .cast("double").as(s"__idx_$c"))
      encoded = encoded.join(broadcast(codes), Seq(c))
    }
    val features = numericCols ++ categoricalCols.map(c => s"__idx_$c")
    val genCols = generalizeColsOpt.getOrElse(numericCols)
    val dropCols = categoricalCols.map(c => s"__idx_$c").filterNot(genCols.contains)
    val clustered = DeterministicKMeans.assign(encoded, features, nClusters,
        iters, memoKey)
      .drop(dropCols: _*)
    ClusteringResult(clustered,
      Generalization.generalize(clustered, "cluster", genCols))
  }
}
