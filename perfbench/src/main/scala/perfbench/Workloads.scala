package perfbench

import graft.metrics.PrivacyReport
import graft.ops.TCloseness
import graft.pipelines.{AdultFixture, ClusteringPipeline, NaiveSuppressionPipeline, TClosenessPipeline}
import graft.schema.AdultSchema
import graft.sources.CsvSource
import graft.{QueryCleanup, SparkEntry}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs the steps of one pass: times each step as a [[Span]], runs its
  * output check untimed, and counts attempted and failed steps. A step
  * fails if it throws or its check reports a problem; a throwing step ends
  * the pass, because the steps after it consume its result.
  */
final class Recorder {
  val spans = mutable.ArrayBuffer.empty[Span]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Wall and process CPU seconds spent in output checks so far. */
  var checkSeconds = 0.0
  var checkCpuSeconds = 0.0
  /** Number of the pass running or last run; passes count from 0. */
  var pass: Int = -1

  private final class StepFailed extends RuntimeException

  def step[T](name: String, label: String = "")(body: => T)(check: T => Seq[String]): T = {
    attempted += 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try body
      catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"pass $pass $name $label threw ${e.getClass.getName}: ${e.getMessage}"
          throw new StepFailed
      }
    spans += Span(pass, name, label, startMs, System.currentTimeMillis(), System.nanoTime() - t0)
    val c0 = System.nanoTime()
    val cpu0 = Proc.cpuSeconds()
    val found = try check(result) catch { case NonFatal(e) => Seq(s"check threw $e") }
    checkCpuSeconds += Proc.cpuSeconds() - cpu0
    checkSeconds += (System.nanoTime() - c0) / 1e9
    if (found.nonEmpty) {
      failed += 1
      problems ++= found.map(p => s"pass $pass $name $label: $p")
    }
    result
  }

  /** Runs the next pass and returns its wall seconds, excluding check time. */
  def run(w: Workload): Double = {
    pass += 1
    val checked = checkSeconds
    val t0 = System.nanoTime()
    try w.pass(this) catch { case _: StepFailed => }
    (System.nanoTime() - t0) / 1e9 - (checkSeconds - checked)
  }

  /** Records a failed check that belongs to the pass as a whole. */
  def fail(problem: String): Unit = {
    failed += 1
    problems += s"pass $pass: $problem"
  }

  def passSpans(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq
}

trait Workload {
  /** Passes run before timing, while JIT and codegen caches fill. A fixed
    * count, so every run times passes at the same point of warm-up. */
  def warmupPasses: Int

  /** Generates the seeded inputs under the work directory and reads them
    * once, so the first pass does not pay for a cold file cache. */
  def prepare(): Unit
  def pass(r: Recorder): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload =
    name match {
      case "adult_study" => new AdultStudy(spark, seed, work)
      case "graph_iterative" => new GraphIterative(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def expect(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)
}

/** The paper's E1 pipeline, its E3 pipeline with the violation recheck, and
  * its E2 clustering pipeline (whose KMeans is the `ml` layer), on
  * study-scale Adult-format rows (32,561 raw rows; 29,111 after the '?'
  * drop at seed 42), read through the engine's CSV path each pass. The rows
  * come from the golden fixture's generator with the run's seed, so seed 42
  * reproduces the golden table. */
final class AdultStudy(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import Workload.expect

  val RawRows = 32561
  // On 4 cores the first pass takes ~1.7x a warm one and the second is
  // within ~10% of the third; one pass is what the run budget affords.
  val warmupPasses = 1
  private val dir = work.resolve("adult")
  private val qis = AdultSchema.quasiIdentifiers
  private val k = 5
  private val t = 0.2
  private val bins = Map("age" -> 5, "capital_gain" -> 3, "capital_loss" -> 3)
  private val numeric = Seq("age", "capital_gain", "capital_loss")
  private val clusters = 10
  private val golden = seed == 42L
  private var firstReport: Option[Seq[Any]] = None

  def prepare(): Unit = {
    CsvSource.write(AdultFixture.raw(spark, RawRows, seed), dir.toString)
    AdultSchema.load(spark, dir.toString).count()
  }

  /** What every k-anonymous release of `rows` input rows satisfies. */
  private def invariants(p: PrivacyReport, rows: Long): Seq[String] =
    expect(p.originalRows == rows, s"originalRows ${p.originalRows} != $rows") ++
      expect(p.kSatisfied && p.kMin >= k, s"kMin ${p.kMin} < $k") ++
      expect(p.anonymizedRows <= rows, s"${p.anonymizedRows} rows out of $rows")

  def pass(r: Recorder): Unit = {
    val (df, rows) = r.step("sources.load") {
      val d = AdultSchema.load(spark, dir.toString).cache()
      (d, d.count())
    } { case (_, n) =>
      expect(n > 0 && n <= RawRows, s"loaded $n rows") ++
        expect(!golden || n == 29111L, s"loaded $n rows, golden 29111")
    }
    val cached = mutable.ArrayBuffer[DataFrame](df)
    try {
      val e1 = r.step("pipelines.e1") {
        NaiveSuppressionPipeline.run(df, qis, k)
      } { e => val p = e.report
        invariants(p, rows) ++
          expect(!golden || (p.anonymizedRows, p.nGroups, p.kMin) == ((6562L, 797L, 5L)),
            s"E1 (rows, groups, kMin) = ${(p.anonymizedRows, p.nGroups, p.kMin)}, golden (6562, 797, 5)")
      }
      cached += e1.anonymized
      val e3 = r.step("pipelines.e3") {
        TClosenessPipeline.run(TCloseness.ordinal(df, "income", "income_pos"),
          qis, "income_pos", k, t, bins)
      } { e => val p = e.report
        invariants(p, rows) ++
          expect(!golden || (p.anonymizedRows, p.nGroups) == ((13907L, 620L)),
            s"E3 (rows, groups) = ${(p.anonymizedRows, p.nGroups)}, golden (13907, 620)")
      }
      cached += e3.anonymized
      val violations = r.step("pipelines.e3_recheck") {
        TClosenessPipeline.violations(e3, qis, "income_pos", t)
      } { v => expect(v == 0L, s"$v t-closeness violations") }
      val (e2, e2Report, e2Ncp) = r.step("pipelines.e2") {
        ClusteringPipeline.run(df, numeric, qis.filterNot(numeric.contains), clusters)
      } { case (e, p, ncp) =>
        // E2 generalizes instead of suppressing: one group per cluster, so
        // the mean re-identification risk is clusters / rows
        expect(p.originalRows == rows, s"originalRows ${p.originalRows} != $rows") ++
          expect(p.nGroups == clusters && p.suppressionRate == 0.0,
            s"E2 (groups, suppression) = ${(p.nGroups, p.suppressionRate)}, want ($clusters, 0.0)") ++
          expect(math.abs(p.reidentificationRisk - clusters.toDouble / rows) < 1e-9,
            s"E2 risk ${p.reidentificationRisk} != $clusters / $rows") ++
          expect(e.clustered.count() == rows, s"E2 clustered ${e.clustered.count()} of $rows rows") ++
          expect(!golden || (p.kMin >= 100L && p.kMax <= 15000L && ncp > 0.5 && ncp < 0.95),
            s"E2 (kMin, kMax, ncp) = ${(p.kMin, p.kMax, ncp)} outside the golden bands")
      }
      cached += e2.clustered
      // every pass must release the same results
      val report = Seq(rows, e1.report, e1.ncp, e3.report, e3.ncp, violations, e2Report, e2Ncp)
      if (firstReport.isEmpty) firstReport = Some(report)
      else if (!firstReport.contains(report)) r.fail(s"report changed between passes: $report")
    } finally cached.foreach(_.unpersist())
  }
}

/** Iterative graph queries from the engine's query registry over a seeded
  * TPC-H-shaped trade graph: each spends most of its time in the
  * driver-side loop that builds its plan. */
final class GraphIterative(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val dir = work.resolve("graph")
  private val graph = Inputs.TradeGraph.generate(seed)
  // On 4 cores the first pass takes ~2x a warm one and later passes still
  // speed up a few percent each. One pass is what the run budget affords:
  // every run times its second pass, so runs stay comparable.
  val warmupPasses = 1
  // computed on first use, inside the (untimed) output check
  private lazy val expected: Map[String, Set[(Long, Long)]] = Map(
    "q278_kcore" -> Reference.kCore(graph.pairs),
    "q290_label_prop" -> Reference.labelPropagation(graph.pairs))

  def prepare(): Unit = {
    graph.write(spark, dir)
    Seq("orders", "lineitem").foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
  }

  def pass(r: Recorder): Unit = Layers.Queries.foreach { q =>
    try {
      val df = r.step("queries.build", q) {
        QueryCleanup.scoped(q)(SparkEntry.queries(q)(spark, dir.toString))
      }(_ => Nil)
      r.step("queries.exec", q) {
        QueryCleanup.scoped(q)(df.queryExecution.toRdd.count())
      } { n =>
        val want = expected(q)
        val got = QueryCleanup.scoped(q)(df.collect()).map(row =>
          (row.getAs[Number](0).longValue, row.getAs[Number](1).longValue)).toSet
        Workload.expect(n == want.size, s"$n rows, reference ${want.size}") ++
          Workload.expect(got == want,
            s"${(got diff want).size} rows not in the reference (e.g. " +
              s"${(got diff want).toSeq.sorted.take(3)}), ${(want diff got).size} missing " +
              s"(e.g. ${(want diff got).toSeq.sorted.take(3)})")
      }
    } finally QueryCleanup.drain(q)
  }
}
