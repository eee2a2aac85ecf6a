package graft.metrics

import graft.SparkSpec
import graft.ops.KAnonymity

class PrivacyMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def orig = Seq(
    (30, "A"), (30, "A"), (30, "A"),
    (40, "B"), (40, "B"),
    (50, "C")
  ).toDF("age", "zip")

  private def evaluate(k: Int): (PrivacyReport, Double) = {
    val qis = Seq("age", "zip")
    PrivacyMetrics.evaluate(orig,
      KAnonymity.groupSizes(KAnonymity.suppress(orig, qis, k), qis), qis, k)
  }

  test("report on k=2 suppression") {
    val (r, _) = evaluate(2)
    assert(r.originalRows == 6 && r.anonymizedRows == 5)
    assert(r.nGroups == 2 && r.kMin == 2 && r.kMax == 3)
    assert(r.kSatisfied)
    assert(r.uniquenessRate == 0.0)
    assert(math.abs(r.reidentificationRisk - 2.0 / 5.0) < 1e-12)
    assert(math.abs(r.suppressionRate - 1.0 / 6.0) < 1e-12)
  }

  test("report handles empty anonymized set") {
    val (r, _) = evaluate(100)
    assert(r.anonymizedRows == 0 && r.suppressionRate == 1.0 && r.kSatisfied)
  }

  test("ncp measures distinct-value loss over QI columns") {
    // age: 3 -> 2 distinct, zip: 3 -> 2 distinct => mean of 1/3 and 1/3
    val (_, v) = evaluate(2)
    assert(math.abs(v - (1.0 / 3 + 1.0 / 3) / 2) < 1e-12)
  }
}
