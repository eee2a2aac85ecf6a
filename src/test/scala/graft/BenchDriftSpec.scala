package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-round drift detection (Bench): the channel the rep-spread
  * requeue cannot see is a query that runs UNIFORMLY slow — every rep
  * consistent, just several times the prior round (how r15 shipped
  * q296 0.49→3.54 s and q297 0.91→6.04 s unflagged). These tests pin
  * the pure decision logic; the re-measure wiring runs in Bench.main.
  */
class BenchDriftSpec extends AnyFunSuite {

  test("driftCandidates fires on a synthetic uniform slowdown") {
    val prior = Map("q296_auc" -> 0.49, "q297_neyman" -> 0.91, "q01_agg" -> 1.0)
    val current = Map("q296_auc" -> 3.54, "q297_neyman" -> 6.04, "q01_agg" -> 1.1)
    assert(Bench.driftCandidates(current, prior) ==
      Seq("q296_auc", "q297_neyman"))
  }

  test("driftCandidates: absolute floor mutes sub-noise queries") {
    // 0.1 -> 0.4 s is 4x but under the 0.5 s floor — not worth 9 reps
    val prior = Map("qx" -> 0.1)
    assert(Bench.driftCandidates(Map("qx" -> 0.4), prior).isEmpty)
    // at >= 0.5 s the same ratio fires
    assert(Bench.driftCandidates(Map("qx" -> 0.5), Map("qx" -> 0.1)) == Seq("qx"))
  }

  test("driftCandidates: new queries (no prior) and sub-factor improvements never fire") {
    val prior = Map("qa" -> 2.0)
    assert(Bench.driftCandidates(
      Map("qa" -> 1.0, "qnew" -> 50.0), prior).isEmpty)
  }

  test("driftCandidates fires on a uniform speed-up past factor too") {
    // q296's slow-down read backwards: 3.54 -> 0.49 s is 7x faster
    assert(Bench.driftCandidates(Map("q296_auc" -> 0.49), Map("q296_auc" -> 3.54)) ==
      Seq("q296_auc"))
    // strictly below prior / factor, as the slow-down side is strictly above
    assert(Bench.driftCandidates(Map("qa" -> 0.4), Map("qa" -> 1.0)).isEmpty)
    assert(Bench.driftCandidates(Map("qa" -> 0.39), Map("qa" -> 1.0)) == Seq("qa"))
    // the floor reads the larger median: 0.4 -> 0.1 s stays sub-noise
    assert(Bench.driftCandidates(Map("qx" -> 0.1), Map("qx" -> 0.4)).isEmpty)
  }

  test("driftCandidates: boundary is strictly greater than factor x prior") {
    assert(Bench.driftCandidates(Map("qa" -> 2.5), Map("qa" -> 1.0)).isEmpty)
    assert(Bench.driftCandidates(Map("qa" -> 2.51), Map("qa" -> 1.0)) == Seq("qa"))
  }

  test("parsePriorMedians reads a bench_detail line; corrupt input is empty") {
    val line = """{"metric":"total","value":10.5,"unit":"sec",
      "queries":{"q01_group_agg":1.25,"q02_filter_project":2,"q03_join":0.75},
      "reps":5,"sf":"/root/testdata/sf0.1"}"""
    val m = Bench.parsePriorMedians(line)
    assert(m == Map("q01_group_agg" -> 1.25, "q02_filter_project" -> 2.0,
      "q03_join" -> 0.75))
    assert(Bench.parsePriorMedians("not json").isEmpty)
    assert(Bench.parsePriorMedians("""{"metric":"total"}""").isEmpty)
  }

  test("publishDriftMedians: drift-flagged queries publish the post-sweep " +
    "re-measure unconditionally; others untouched; order preserved") {
    val medians = Seq("qa" -> 1.833, "qb" -> 0.5, "qc" -> 0.3)
    // qa re-measured faster, qc re-measured SLOWER — both publish the
    // re-measure (no one-sided min selection)
    val out = Bench.publishDriftMedians(medians,
      Map("qa" -> 0.475, "qc" -> 0.9))
    assert(out == Seq("qa" -> 0.475, "qb" -> 0.5, "qc" -> 0.9))
  }

  test("publishDriftMedians: a failed re-measure (iso <= 0) keeps in-bench") {
    val out = Bench.publishDriftMedians(Seq("qa" -> 1.833),
      Map("qa" -> -1.0))
    assert(out == Seq("qa" -> 1.833))
  }

  test("end to end: prior detail line + synthetic regression -> candidate list") {
    val priorLine = """{"queries":{"q296_auc_roc_by_segment":0.49,"q05_anti":0.2}}"""
    val prior = Bench.parsePriorMedians(priorLine)
    val current = Map("q296_auc_roc_by_segment" -> 3.54, "q05_anti" -> 0.21)
    assert(Bench.driftCandidates(current, prior) == Seq("q296_auc_roc_by_segment"))
  }

  test("repSpread ignores a slow warm-up rep 1 but flags a slow later rep") {
    // rep 1 carries JIT, codegen and memo fills: 4x the steady reps
    val warmUp = Seq(Some(2.0), Some(0.5), Some(0.52), Some(0.5), Some(0.51))
    assert(Bench.repSpread(warmUp) <= Bench.spreadLimit(0.51))
    // the same 4x in rep 3 is a host hiccup and is re-measured
    val hiccup = Seq(Some(0.5), Some(0.52), Some(2.0), Some(0.5), Some(0.51))
    assert(Bench.repSpread(hiccup) > Bench.spreadLimit(0.51))
    assert(math.abs(Bench.repSpread(hiccup) - 4.0) < 1e-12)
    // fewer than two steady reps give no spread
    assert(Bench.repSpread(Seq(Some(9.0), Some(1.0))) == 1.0)
  }
}
