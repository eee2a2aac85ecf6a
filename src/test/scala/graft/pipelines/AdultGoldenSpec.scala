package graft.pipelines

import graft.SparkSpec
import graft.ml.{ClusteringAnonymizer, ClusteringMlSpec, UtilityMetrics}
import graft.ops.TCloseness
import graft.schema.AdultSchema
import graft.sources.CsvSource

/** Golden end-to-end runs of E1/E2/E3 at STUDY SCALE (~30k Adult-format
  * rows through the real CSV load path), asserting the exact metric
  * values of the committed deterministic fixture ([[AdultFixture]]).
  *
  * Magnitude comparison against the reference's published numbers
  * (BASELINE.md; README.md:3 — real UCI Adult, which this sandbox cannot
  * fetch):
  *
  * | metric                | reference | this fixture | note |
  * |-----------------------|-----------|--------------|------|
  * | rows after dropna     | 30,162    | 29,111       | same '?'-drop path |
  * | E1 suppression        | 77.93%    | 77.46%       | |
  * | E1 reid risk          | 0.1137    | 0.1215       | |
  * | E2 reid risk          | 0.0003    | 0.00034      | ≈ nClusters/rows |
  * | E2 NCP                | 0.5671    | 0.8074       | sklearn/spark.ml KMeans partition differently; NCP counts surviving distinct values, so it tracks cluster-range overlap, not privacy |
  * | E3 suppression        | 38%       | 52.2%        | EXPECTED divergence: the reference's E3 loop compares each group's distribution to itself, so its t-filter never fires and 38% is k-anonymity-only (BASELINE.md caveat); ours applies intended t-closeness |
  * | E3 NCP                | 0.2532    | 0.3407       | follows from the stricter (working) t-filter |
  * | E3 t-violations       | 0 (vacuous) | 0 (structural) | recheck shares the filter's distribution basis |
  * | RF accuracy drop (E3) | "negligible" | 0.005     | band-asserted |
  *
  * SPARK-VERSION COUPLING: the exact-value assertions (1e-9 on Spark
  * aggregations) and the E2 pins over spark.ml KMeans internals are
  * deterministic on Spark 4.1.2 but are implementation-coupled — a Spark
  * upgrade that changes aggregation accumulation order or KMeans
  * init/iteration details may shift them. On upgrade: re-run, eyeball the
  * new values against the reference magnitudes above, re-pin.
  */
class AdultGoldenSpec extends SparkSpec {

  private lazy val adult = {
    val dir = java.nio.file.Files.createTempDirectory("adult_golden")
    // best-effort cleanup: deepest-first so files delete before dirs
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => p.toFile.delete())
    }))
    CsvSource.write(AdultFixture.raw(spark), dir.toString)
    AdultSchema.load(spark, dir.toString).cache()
  }
  private val qis = AdultSchema.quasiIdentifiers

  private def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol

  test("golden: CSV load drops '?' rows at study scale") {
    assert(adult.count() == 29111L) // 32,561 raw; '?' rows dropped (S1+S2)
  }

  test("URL ingest: the reference's own fetch form (skipped offline)") {
    // naive-suppresion.py:13-14 reads the UCI census CSV straight from
    // its URL; the engine contract is fetch-to-local then load. This
    // sandbox has zero egress, so the download failing cancels (not
    // fails) the case — on a networked machine it runs for real.
    val url = "https://archive.ics.uci.edu/ml/machine-learning-databases/adult/adult.data"
    val dest = java.nio.file.Files.createTempDirectory("adult_url")
      .resolve("adult.data").toString
    val fetched =
      try CsvSource.fetch(url, dest, connectTimeoutMs = 5000, readTimeoutMs = 30000)
      catch {
        case e: java.io.IOException =>
          cancel(s"offline sandbox, URL ingest skipped: ${e.getMessage}")
      }
    val df = AdultSchema.load(spark, fetched)
    assert(df.count() == 30162L) // the reference's post-dropna row count (README.md:3)
  }

  test("golden E1: naive suppression metrics at study scale") {
    val r = NaiveSuppressionPipeline.run(adult, qis, k = 5)
    assert(r.report.originalRows == 29111L)
    assert(r.report.anonymizedRows == 6562L)
    assert(r.report.nGroups == 797L)
    assert(r.report.kMin == 5L && r.report.kMax == 22L)
    assert(r.report.kSatisfied)
    assert(r.report.uniquenessRate == 0.0)
    assert(approx(r.report.suppressionRate, 0.7745869259042973)) // ref: 77.93%
    assert(approx(r.report.reidentificationRisk, 0.12145687290460226)) // ref: 0.1137
    assert(approx(r.ncp, 0.6654360342722412))
  }

  private lazy val withOrd = TCloseness.ordinal(adult, "income", "income_pos")
  private lazy val e3 = TClosenessPipeline.run(withOrd, qis, "income_pos",
    k = 5, t = 0.2,
    binCols = Map("age" -> 5, "capital_gain" -> 3, "capital_loss" -> 3))

  test("golden E3: intended t-closeness metrics at study scale") {
    val r = e3
    assert(r.report.anonymizedRows == 13907L)
    assert(r.report.nGroups == 620L)
    assert(r.report.kMin == 5L && r.report.kMax == 210L)
    assert(r.report.kSatisfied)
    // ref publishes 38%, but its t-filter is vacuous (self-comparison);
    // intended semantics suppress more
    assert(approx(r.report.suppressionRate, 0.522276802583216))
    assert(approx(r.report.reidentificationRisk, 0.04458186524771698))
    assert(approx(r.ncp, 0.340732127068334)) // ref: 0.2532
    // the reference's own double-check, against the filter's basis
    assert(TClosenessPipeline.violations(r, qis, "income_pos", 0.2) == 0L)
  }

  test("golden E2: clustering anonymization metrics at study scale") {
    val numeric = Seq("age", "capital_gain", "capital_loss")
    val cats = qis.filterNot(numeric.contains)
    val (res, report, ncp) = ClusteringPipeline.run(adult, numeric, cats, nClusters = 10)
    assert(res.clustered.count() == 29111L)
    assert(report.nGroups == 10L)
    assert(report.suppressionRate == 0.0)
    // mean(1/clusterSize) = nClusters/rows when all clusters non-empty
    assert(approx(report.reidentificationRisk, 10.0 / 29111.0)) // ref: 0.0003
    // KMeans-assignment-dependent shape, pinned for this fixed local[4]
    // session: the seed is fixed, and the dictionaries, features and
    // fit are deterministic on it (see SPARK-VERSION COUPLING above)
    assert(report.kMin == 542L && report.kMax == 6781L)
    assert(ncp == 0.8074074074074074) // ref: 0.5671 (impl-dependent, see table)
  }

  test("golden E2 dictionaries: one aggregation gives StringIndexer's labels") {
    val cats = qis.filterNot(Seq("age", "capital_gain", "capital_loss").contains)
    assert(ClusteringAnonymizer.alphabetLabels(adult, cats).map(_.toSeq).toSeq ==
      ClusteringMlSpec.fittedLabels(adult, cats))
  }

  test("golden utility: RF accuracy drop through E3 is negligible") {
    val (o, a, drop) = UtilityMetrics.accuracyDrop(
      withOrd.drop("income_pos"), e3.anonymized.drop("income_pos"),
      "income", qis, numTrees = 50) // ref: 50 trees, 30% test split
    assert(o.accuracy > 0.70 && o.accuracy < 0.82, s"orig=${o.accuracy}")
    assert(a.accuracy > 0.70 && a.accuracy < 0.82, s"anon=${a.accuracy}")
    assert(math.abs(drop) < 0.05, s"drop=$drop") // ref: "negligible"
  }
}
