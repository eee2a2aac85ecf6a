package graft.metrics

import graft.{QueryCleanup, SparkSpec}
import graft.ops.{Generalization, KAnonymity}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Properties of [[PrivacyMetrics.evaluate]] on generated small tables:
  * NULL QIs, tied rows, single-row classes, and k above every class size
  * (an empty release). The report and NCP read from the class table must
  * equal a plain-Scala reference over the collected rows, with the
  * reference scripts' formulas (naive-suppresion.py:42-83): risk as the
  * mean over records of 1/class size, NCP from distinct non-NULL values.
  * ScalaCheck runs directly (`Prop.forAll` + `Test.check`) with a fixed
  * seed, so every run checks the same tables. */
class PrivacyMetricsPropertySpec extends SparkSpec {
  import PrivacyMetricsPropertySpec._
  import spark.implicits._

  private def check(name: String, prop: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withWorkers(1).withInitialSeed(Seed(42L))
    val result = Test.check(params, prop)
    QueryCleanup.drain()
    assert(result.passed, s"$name: ${result.status}")
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-12

  private def same(r: PrivacyReport, e: PrivacyReport): Boolean =
    (r.originalRows, r.anonymizedRows, r.nGroups, r.kMin, r.kMax, r.kSatisfied) ==
      (e.originalRows, e.anonymizedRows, e.nGroups, e.kMin, e.kMax, e.kSatisfied) &&
      close(r.uniquenessRate, e.uniquenessRate) &&
      close(r.uniquenessRateRecords, e.uniquenessRateRecords) &&
      close(r.reidentificationRisk, e.reidentificationRisk) &&
      close(r.suppressionRate, e.suppressionRate)

  /** The metric block of releasing `released` (one Seq per class, its rows
    * as per-column values) out of `original`, `k` the target. */
  private def reference(original: Seq[Seq[Option[Any]]], released: Seq[Seq[Seq[Option[Any]]]],
                        k: Int): (PrivacyReport, Double) = {
    val sizes = released.map(_.size.toLong)
    val rows = sizes.sum
    val groups = sizes.size.toLong
    val singles = sizes.count(_ == 1L).toDouble
    val report = PrivacyReport(
      originalRows = original.size.toLong,
      anonymizedRows = rows,
      nGroups = groups,
      kMin = if (sizes.isEmpty) 0L else sizes.min,
      kMax = if (sizes.isEmpty) 0L else sizes.max,
      kSatisfied = sizes.forall(_ >= k),
      uniquenessRate = if (groups > 0) singles / groups else 0.0,
      uniquenessRateRecords = if (rows > 0) singles / rows else 0.0,
      reidentificationRisk =
        if (rows > 0) sizes.map(n => n * (1.0 / n)).sum / rows else 0.0,
      suppressionRate =
        if (original.nonEmpty) (original.size - rows).toDouble / original.size else 0.0)
    def distinct(rs: Seq[Seq[Option[Any]]], i: Int) = rs.flatMap(_(i)).distinct.size
    val width = original.headOption.fold(0)(_.size)
    val perCol = (0 until width).map { i =>
      val o = distinct(original, i)
      if (o > 0) (o - distinct(released.flatten, i)).toDouble / o else 0.0
    }
    (report, if (perCol.isEmpty) 0.0 else perCol.sum / perCol.size)
  }

  private val qis = Seq("a", "b")

  private val suppression: Gen[Case] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      a <- Gen.frequency(4 -> Gen.oneOf("x", "y", "z").map(Some(_)), 1 -> Gen.const(None))
      b <- Gen.frequency(4 -> Gen.choose(0, 3).map(Some(_)), 1 -> Gen.const(None))
    } yield (a, b))
    // k = n + 1 is above every class size: the release is empty
    k <- Gen.frequency(5 -> Gen.choose(1, 4), 1 -> Gen.const(n + 1))
  } yield Case(rows, k)

  test("report and NCP of a k-suppression equal the reference over the rows") {
    check("suppression", Prop.forAll(suppression) { c =>
      val df = c.rows.toDF("a", "b")
      val released = KAnonymity.suppress(df, qis, c.k)
      val (report, ncp) = PrivacyMetrics.evaluate(df,
        KAnonymity.groupSizes(released, qis), qis, c.k)
      val original = c.rows.map { case (a, b) => Seq(a, b) }
      val classes = c.rows.groupBy(identity).values.filter(_.size >= c.k)
        .map(_.map { case (a, b) => Seq[Option[Any]](a, b) }).toSeq
      val (eReport, eNcp) = reference(original, classes, c.k)
      same(report, eReport) && close(ncp, eNcp)
    }, cases = 25)
  }

  private val clustered: Gen[Seq[(Int, Option[Int], Option[Double])]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      g <- Gen.choose(0, 3)
      x <- Gen.frequency(4 -> Gen.choose(-2, 5).map(Some(_)), 1 -> Gen.const(None))
      y <- Gen.frequency(4 -> Gen.oneOf(0.5, 1.25, 2.0, 10.0).map(Some(_)), 1 -> Gen.const(None))
    } yield (g, x, y))
  } yield rows

  test("E2 shape: NCP from the cluster table equals NCP over the generalized rows") {
    check("clusters", Prop.forAll(clustered) { rows =>
      val df: DataFrame = rows.toDF("cluster", "x", "y")
      val cols = Seq("x", "y")
      val (report, ncp) = PrivacyMetrics.evaluate(df,
        Generalization.minMaxRanges(df, "cluster", cols), cols, k = 1)
      val generalized = Generalization.generalize(df, "cluster", cols)
        .select("cluster", "x", "y").as[(Int, Option[String], Option[String])].collect().toSeq
      val original = rows.map { case (_, x, y) => Seq[Option[Any]](x, y) }
      val classes = generalized.groupBy(_._1).values
        .map(_.map { case (_, x, y) => Seq[Option[Any]](x, y) }).toSeq
      val (eReport, eNcp) = reference(original, classes, k = 1)
      same(report, eReport) && close(ncp, eNcp)
    }, cases = 15)
  }
}

object PrivacyMetricsPropertySpec {
  final case class Case(rows: Seq[(Option[String], Option[Int])], k: Int)
}
