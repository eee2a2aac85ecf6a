package graft.ops

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class TimeSeriesDpSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0),   // same session (10m gap)
    (3L, ts("2024-01-01 11:00:00"), 7L, "view", 3.0),    // new session (50m gap)
    (4L, ts("2024-01-01 10:05:00"), 8L, "click", 4.0),   // other user
    (5L, ts("2024-01-01 12:00:00"), 8L, "view", 500.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionize splits on gaps > threshold per user") {
    val got = TimeSeries.sessionize(events, 30)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1 && got(2L) == 1 && got(3L) == 2)
    assert(got(4L) == 1 && got(5L) == 2)
  }

  test("windowAgg buckets into tumbling windows") {
    val got = TimeSeries.windowAgg(events, "1 hour")
      .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(got.contains(("10:00", "click", 3L)))
    assert(got.contains(("11:00", "view", 1L)))
  }

  test("asofJoin attaches the latest right row at-or-before each left ts") {
    val views = events.filter($"event_type" === "view")
      .select("event_id", "user_id", "ts")
    val clicks = events.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("cid"), $"value".as("cv"))
    val got = TimeSeries.asofJoin(views, clicks, "user_id", "ts",
      rightPayload = Seq("cid", "cv"), rightTieCol = "cid")
      .select("event_id", "asof_cid", "asof_cv")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    // view 3 (user 7 @11:00): latest click is 2 (@10:10)
    assert(got(3L) == Some((2L, 2.0)))
    // view 5 (user 8 @12:00): latest click is 4 (@10:05)
    assert(got(5L) == Some((4L, 4.0)))
    // inclusive tie + tiebreak: a view exactly at a click's ts sees it,
    // and ties on ts pick the larger tie id
    val v2 = Seq((100L, 7L, ts("2024-01-01 10:10:00"))).toDF("event_id", "user_id", "ts")
    val c2 = Seq((7L, ts("2024-01-01 10:10:00"), 50L, 5.0),
      (7L, ts("2024-01-01 10:10:00"), 51L, 6.0))
      .toDF("user_id", "ts", "cid", "cv")
    val tied = TimeSeries.asofJoin(v2, c2, "user_id", "ts", Seq("cid", "cv"), "cid")
      .select("asof_cid").as[Long].head()
    assert(tied == 51L)
    // no prior right row -> nulls
    val early = Seq((200L, 7L, ts("2024-01-01 09:00:00"))).toDF("event_id", "user_id", "ts")
    val none = TimeSeries.asofJoin(early, clicks, "user_id", "ts", Seq("cid", "cv"), "cid")
    assert(none.filter($"asof_cid".isNull).count() == 1)
  }

  test("movingAggregate slides a trailing range frame per key, peers included") {
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "c", 1.0),
      (2L, ts("2024-01-01 10:05:00"), 7L, "c", 2.0),
      (3L, ts("2024-01-01 10:09:00"), 7L, "c", 3.0),
      (4L, ts("2024-01-01 10:20:00"), 7L, "c", 4.0),  // 11m after e3: alone
      (5L, ts("2024-01-01 10:20:00"), 7L, "c", 6.0),  // peer ts: shares frame with e4
      (6L, ts("2024-01-01 10:01:00"), 8L, "c", 9.0)   // other user untouched
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TimeSeries.movingAggregate(e, "user_id", "ts", "value",
        windowMicros = 600000000L) // 10 minutes
      .select("event_id", "n_window", "avg_value")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (1L, 1.0))
    assert(got(2L) == (2L, 1.5))
    assert(got(3L) == (3L, 2.0))
    // RANGE frame: equal timestamps are peers — both rows see both
    assert(got(4L) == (2L, 5.0) && got(5L) == (2L, 5.0))
    assert(got(6L) == (1L, 9.0))
  }

  test("dp noise is deterministic for fixed seed, differs across seeds") {
    val a = DifferentialPrivacy.dpCount(events, Seq("event_type"), 1.0, 42L)
      .as[(String, Double)].collect().toMap
    val b = DifferentialPrivacy.dpCount(events, Seq("event_type"), 1.0, 42L)
      .as[(String, Double)].collect().toMap
    val c = DifferentialPrivacy.dpCount(events, Seq("event_type"), 1.0, 43L)
      .as[(String, Double)].collect().toMap
    assert(a == b)
    assert(a != c)
    // noise at eps=1, sensitivity=1 is almost surely < 20
    val clicks = events.filter($"event_type" === "click").count().toDouble
    assert(math.abs(a("click") - clicks) < 20)
  }

  test("randomizedResponseFreq: estimates sum to n, are near truth, and the domain is guarded") {
    val n = 4000
    val df = spark.range(n).selectExpr("id",
      "CASE WHEN id % 10 < 6 THEN 'a' WHEN id % 10 < 9 THEN 'b' ELSE 'c' END AS cat")
    val got = DifferentialPrivacy.randomizedResponseFreq(df, "cat", col("id"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // debias identity: sum of estimates = n exactly (closed form telescopes)
    assert(math.abs(got.values.map(_._2).sum - n) < 1e-3, got.toString)
    // each estimate within a few sampling sigmas of the truth (n large,
    // hash coins ~ uniform): sigma ~ sqrt(n*q(1-q))/(p-q) ~ 55 here
    assert(math.abs(got("a")._2 - 2400) < 300, got.toString)
    assert(math.abs(got("b")._2 - 1200) < 300, got.toString)
    assert(math.abs(got("c")._2 - 400) < 300, got.toString)
    // raw reported counts are perturbed AWAY from truth (the collector
    // never sees the true histogram): reported('c') >> true 400's share
    assert(got("c")._1 > 500, got.toString)
    // degenerate domains refuse
    val e = intercept[IllegalArgumentException] {
      DifferentialPrivacy.randomizedResponseFreq(
        spark.range(5).selectExpr("id", "'x' AS cat"), "cat", col("id"))
    }
    assert(e.getMessage.contains(">= 2 categories"))
  }

  test("dpSum clips values before summing") {
    val got = DifferentialPrivacy.dpSum(events, Seq("event_type"), "value",
      0.0, 100.0, 1000.0, 42L).as[(String, Double)].collect().toMap
    // view true sum = 3 + min(500,100) = 103; huge eps -> tiny noise
    assert(math.abs(got("view") - 103.0) < 1.0)
  }

  test("PrivacyBudget enforces sequential composition") {
    val dir = s"${tempDir("graft_ledger_seq")}/ledger"
    BudgetLedger.init(spark, dir, total = 1.0)
    BudgetLedger.charge(spark, dir, "a", 0.4); BudgetLedger.charge(spark, dir, "b", 0.6)
    assert(BudgetLedger.remaining(spark, dir) < 1e-9)
    intercept[IllegalStateException](BudgetLedger.charge(spark, dir, "c", 0.1))
    // a non-positive amount is refused before it touches the ledger
    intercept[IllegalArgumentException](BudgetLedger.charge(spark, dir, "neg", -1.0))
    intercept[IllegalArgumentException](BudgetLedger.charge(spark, dir, "zero", 0.0))
    assert(BudgetLedger.charges(spark, dir).count() == 2L)
  }

  test("dpCountGaussian is seed-deterministic and unbiased-ish") {
    val a = DifferentialPrivacy.dpCountGaussian(events, Seq("event_type"),
      epsilon = 0.8, delta = 1e-6, seed = 13L).as[(String, Double)].collect().toMap
    val b = DifferentialPrivacy.dpCountGaussian(events, Seq("event_type"),
      epsilon = 0.8, delta = 1e-6, seed = 13L).as[(String, Double)].collect().toMap
    val c = DifferentialPrivacy.dpCountGaussian(events, Seq("event_type"),
      epsilon = 0.8, delta = 1e-6, seed = 14L).as[(String, Double)].collect().toMap
    assert(a == b && a != c)
    // sigma ~ 6.6 at these params: 6-sigma envelope around the true count
    val clicks = events.filter($"event_type" === "click").count().toDouble
    val sigma = DifferentialPrivacy.gaussianSigma(1.0, 0.8, 1e-6)
    assert(math.abs(a("click") - clicks) < 6 * sigma, s"${a("click")} vs $clicks")
  }

  test("dpMedianExp selects from the domain; huge epsilon recovers the true median") {
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0)
    val df = vals.map(v => ("g", v)).toDF("grp", "v")
    // eps -> huge: utility dominates every Gumbel draw, the exact
    // median (u = 0, unique) must win
    val exact = DifferentialPrivacy.dpMedianExp(df, Seq("grp"), "v",
      epsilon = 1e6, seed = 1L).as[(String, Double)].head()
    assert(exact == ("g", 5.0), exact.toString)
    // output is always a DOMAIN value, and fixed seed is deterministic
    val a = DifferentialPrivacy.dpMedianExp(df, Seq("grp"), "v", 0.5, 7L)
      .as[(String, Double)].head()
    val b = DifferentialPrivacy.dpMedianExp(df, Seq("grp"), "v", 0.5, 7L)
      .as[(String, Double)].head()
    assert(vals.contains(a._2) && a == b)
    // across many seeds at moderate eps, the mode of the selection is
    // at/near the median (sanity that utility actually steers)
    val picks = (1L to 40L).map(sd =>
      DifferentialPrivacy.dpMedianExp(df, Seq("grp"), "v", 2.0, sd)
        .as[(String, Double)].head()._2)
    val central = picks.count(v => v >= 3.0 && v <= 7.0)
    assert(central >= 30, s"only $central/40 picks near the median: $picks")
  }

  test("gaussianSigma rejects the regime where the analytic bound is false") {
    intercept[IllegalArgumentException](DifferentialPrivacy.gaussianSigma(1.0, 1.5, 1e-6))
    intercept[IllegalArgumentException](DifferentialPrivacy.gaussianSigma(1.0, 0.5, 0.0))
    // closed form at eps=1, delta=1.25/e^2 -> sqrt(2*2)/1 = 2
    assert(math.abs(DifferentialPrivacy.gaussianSigma(1.0, 1.0,
      1.25 / math.exp(2.0)) - 2.0) < 1e-12)
  }

  test("BudgetLedger: charges survive restart; exhausted ledger refuses; replay is free") {
    val dir = s"${tempDir("graft_ledger")}/ledger"
    BudgetLedger.init(spark, dir, total = 1.0, meta = "audit-budget")
    // double init would silently reset spent state — refused
    intercept[IllegalArgumentException] {
      BudgetLedger.init(spark, dir, total = 5.0)
    }
    val r1 = BudgetLedger.charge(spark, dir, "daily-2026-08-14", 0.4)
    assert(math.abs(r1 - 0.6) < 1e-9)
    // "restart": all state is on disk, so a fresh read IS the restart
    assert(math.abs(BudgetLedger.remaining(spark, dir) - 0.6) < 1e-9)
    assert(math.abs(BudgetLedger.spent(spark, dir) - 0.4) < 1e-9)
    // replaying a crashed release with the SAME id never double-charges
    val r2 = BudgetLedger.charge(spark, dir, "daily-2026-08-14", 0.4)
    assert(math.abs(r2 - 0.6) < 1e-9)
    // a second distinct release fits; a third exceeding the total refuses
    BudgetLedger.charge(spark, dir, "daily-2026-08-15", 0.5)
    intercept[IllegalStateException] {
      BudgetLedger.charge(spark, dir, "daily-2026-08-16", 0.2)
    }
    // the refused charge left NO state behind
    assert(BudgetLedger.charges(spark, dir).count() == 2L)
    assert(math.abs(BudgetLedger.remaining(spark, dir) - 0.1) < 1e-9)
  }

  test("BudgetLedger: Gaussian zCDP accounting matches the in-process ZCdpBudget") {
    val dir = s"${tempDir("graft_ledger_zm")}/ledger"
    BudgetLedger.init(spark, dir, total = 0.5)
    val releases = Seq((1.0, 2.0), (2.0, 4.0), (1.0, 3.0))
    releases.zipWithIndex.foreach { case ((d, sigma), i) =>
      BudgetLedger.chargeGaussian(spark, dir, s"r$i", sensitivity = d, sigma = sigma)
    }
    // the same zCDP arithmetic folded in process: ρ = Σ Δ²/(2σ²),
    // ε(δ) = ρ + 2·sqrt(ρ·ln(1/δ))
    val rho = releases.map { case (d, sigma) => d * d / (2.0 * sigma * sigma) }.sum
    val delta = 1e-6
    assert(math.abs(BudgetLedger.spent(spark, dir) - rho) < 1e-12)
    assert(math.abs(BudgetLedger.remaining(spark, dir) - (0.5 - rho)) < 1e-12)
    assert(math.abs(BudgetLedger.epsilonFor(spark, dir, delta)
      - (rho + 2.0 * math.sqrt(rho * math.log(1.0 / delta)))) < 1e-12)
  }

  test("ZCdpBudget: rho composes additively and converts to (eps, delta)") {
    val dir = s"${tempDir("graft_ledger_z")}/ledger"
    BudgetLedger.init(spark, dir, total = 0.25)
    intercept[IllegalArgumentException] {
      BudgetLedger.chargeGaussian(spark, dir, "bad", sensitivity = 1.0, sigma = 0.0)
    }
    // rho = Δ²/(2σ²): 1/8 at (1, 2), and again 1/8 at (2, 4)
    BudgetLedger.chargeGaussian(spark, dir, "r1", sensitivity = 1.0, sigma = 2.0)
    BudgetLedger.chargeGaussian(spark, dir, "r2", sensitivity = 2.0, sigma = 4.0)
    assert(math.abs(BudgetLedger.spent(spark, dir) - 0.25) < 1e-12)
    assert(BudgetLedger.remaining(spark, dir) < 1e-12)
    // over budget: a third release refuses
    intercept[IllegalStateException] {
      BudgetLedger.chargeGaussian(spark, dir, "r3", sensitivity = 1.0, sigma = 2.0)
    }
    // Bun-Steinke conversion at the spent rho: ε(δ) = ρ + 2·sqrt(ρ·ln(1/δ))
    val delta = 1e-6
    val expected = 0.25 + 2.0 * math.sqrt(0.25 * math.log(1.0 / delta))
    assert(math.abs(BudgetLedger.epsilonFor(spark, dir, delta) - expected) < 1e-12)
    intercept[IllegalArgumentException](BudgetLedger.epsilonFor(spark, dir, 0.0))
    // sqrt-composition advantage: k Gaussian releases cost eps ~ sqrt(k),
    // not k — the zCDP ledger for 16 releases is well under 16x one
    // release's eps at the same sigma
    val many = s"${tempDir("graft_ledger_z16")}/ledger"
    BudgetLedger.init(spark, many, total = 16.0 / 8.0)
    (1 to 16).foreach(i => BudgetLedger.chargeGaussian(spark, many, s"r$i", 1.0, 2.0))
    val one = s"${tempDir("graft_ledger_z1")}/ledger"
    BudgetLedger.init(spark, one, total = 1.0)
    BudgetLedger.chargeGaussian(spark, one, "r1", 1.0, 2.0)
    assert(BudgetLedger.epsilonFor(spark, many, delta)
      < 16.0 * BudgetLedger.epsilonFor(spark, one, delta))
  }

  test("rangeJoin equals the naive BETWEEN join, including bucket edges") {
    val points = events.select($"user_id", $"ts", $"event_id".as("pid"))
    // intervals deliberately straddle bucket boundaries at several widths
    val intervals = Seq(
      (7L, 10L, ts("2024-01-01 09:30:00"), ts("2024-01-01 10:05:00")),
      (7L, 11L, ts("2024-01-01 10:10:00"), ts("2024-01-01 10:10:00")), // zero-length, exact hit
      (8L, 12L, ts("2024-01-01 00:00:00"), ts("2024-01-01 23:59:59")), // spans many buckets
      (9L, 13L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))  // key with no points
    ).toDF("user_id", "iid", "win_start", "win_end")
    val naive = points.join(intervals, Seq("user_id"))
      .filter($"ts" >= $"win_start" && $"ts" <= $"win_end")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    for (width <- Seq(60L, 3600L, 86400L)) {
      val got = TimeSeries.rangeJoin(points, intervals, Seq("user_id"),
          "ts", "win_start", "win_end", bucketSeconds = width)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got == naive, s"width=$width")
    }
  }

  test("rangeJoin plans an equi-join, not a nested-loop/cartesian") {
    val points = events.select($"user_id", $"ts", $"event_id".as("pid"))
    val intervals = Seq((7L, 10L, ts("2024-01-01 09:30:00"), ts("2024-01-01 10:05:00")))
      .toDF("user_id", "iid", "win_start", "win_end")
    val plan = TimeSeries.rangeJoin(points, intervals, Seq("user_id"),
      "ts", "win_start", "win_end", 3600L).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("resampleFill densifies the grid, forward-fills means, zeroes counts") {
    val df = Seq(
      ("a", "2024-01-01 00:10:00", 2.0),
      ("a", "2024-01-01 00:50:00", 4.0),
      // a skips hours 1-2 entirely, reappears in hour 3
      ("a", "2024-01-01 03:05:00", 10.0),
      // b starts one hour late: its hour-0 grid row must stay null
      ("b", "2024-01-01 01:00:00", 7.0)
    ).map { case (k, t, v) => (k, Timestamp.valueOf(t), v) }
      .toDF("k", "ts", "v")
    val got = TimeSeries.resampleFill(df, "k", "ts", "v", 3600L)
      .select("k", "bucket", "n_events", "avg_value")
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.size == 8, s"2 keys x 4 hourly buckets, got ${got.size}")
    assert(got(("a", "2024-01-01 00:00:00")) == ((2L, Some(3.0))))
    assert(got(("a", "2024-01-01 01:00:00")) == ((0L, Some(3.0)))) // filled
    assert(got(("a", "2024-01-01 02:00:00")) == ((0L, Some(3.0)))) // filled
    assert(got(("a", "2024-01-01 03:00:00")) == ((1L, Some(10.0))))
    assert(got(("b", "2024-01-01 00:00:00")) == ((0L, None))) // before first obs
    assert(got(("b", "2024-01-01 01:00:00")) == ((1L, Some(7.0))))
    assert(got(("b", "2024-01-01 03:00:00")) == ((0L, Some(7.0))))
  }

  test("saltedJoin equals the plain inner join") {
    val big = events.select($"event_id", $"user_id", $"value")
    val dim = Seq((7L, "gold"), (8L, "basic"), (9L, "unmatched"))
      .toDF("user_id", "tier")
    val expected = big.join(dim, Seq("user_id"))
      .select("event_id", "tier").as[(Long, String)].collect().toSet
    val got = Skew.saltedJoin(big, dim, Seq("user_id"), "event_id", 4)
      .select("event_id", "tier").as[(Long, String)].collect().toSet
    assert(got == expected)
    // every big row matched exactly once (no salt-induced duplicates)
    assert(Skew.saltedJoin(big, dim, Seq("user_id"), "event_id", 4).count() ==
      big.join(dim, Seq("user_id")).count())
  }

  test("bloomSemiJoin equals the plain semi join even at an absurd fpp") {
    val probe = (1L to 500L).map(i => (i, s"p$i")).toDF("k", "payload")
    val build = (1L to 500L by 7L).toDF("k0")
    val expected = probe.join(build.withColumnRenamed("k0", "k"), Seq("k"), "left_semi")
      .as[(Long, String)].collect().toSet
    // fpp=0.4 floods the pre-filter with false positives; the exact semi
    // join must eliminate every one of them. forceBloom pins the BLOOM
    // path — the regime gate would otherwise bypass a 100-key build.
    val got = Skew.bloomSemiJoin(probe, build, "k", "k0",
        expectedItems = 100L, fpp = 0.4, forceBloom = true)
      .as[(Long, String)].collect().toSet
    assert(got == expected && got.nonEmpty)
    // null probe keys never match (semi-join semantics)
    val withNull = probe.unionAll(Seq((null.asInstanceOf[java.lang.Long], "pnull"))
      .toDF("k", "payload").select($"k".cast("long"), $"payload"))
    val gotNull = Skew.bloomSemiJoin(withNull, build, "k", "k0", 100L, 0.4,
      forceBloom = true)
    assert(!gotNull.as[(Long, String)].collect().exists(_._2 == "pnull"))
    graft.QueryCleanup.drain()
  }

  test("bloomSemiJoin: string keys through the bloom path match the plain semi join") {
    val probe = (1L to 300L).map(i => (s"key$i", i)).toDF("k", "payload")
    val build = (1L to 300L by 5L).map(i => s"key$i").toDF("k0")
    val expected = probe.join(build.withColumnRenamed("k0", "k"), Seq("k"), "left_semi")
      .as[(String, Long)].collect().toSet
    val got = Skew.bloomSemiJoin(probe, build, "k", "k0", 60L, 0.2,
        forceBloom = true)
      .as[(String, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
    graft.QueryCleanup.drain()
  }

  test("bloomSemiJoin regime gate: a broadcastable build set bypasses the bloom") {
    val probe = (1L to 100L).map(i => (i, i)).toDF("k", "payload")
    val build = (1L to 100L by 3L).toDF("k0")
    val gated = Skew.bloomSemiJoin(probe, build, "k", "k0", expectedItems = 100L)
    // the bypass plan is the PLAIN semi join: no bloom probe anywhere
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("graftbloom"), plan)
    val expected = probe.join(build.withColumnRenamed("k0", "k"), Seq("k"), "left_semi")
      .count()
    assert(gated.count() == expected)
    graft.QueryCleanup.drain()
  }

  test("dpHistogram: stability threshold suppresses thin bins, release replays") {
    // 3 fat categories + 40 singletons; with eps=1, delta=1e-6 the
    // threshold tau = 1 + ln(5e5) ~ 14.12 keeps only the fat ones
    // (noise scale 1 cannot lift a count of 1 past 14 at these seeds).
    val rows = Seq.fill(200)("a") ++ Seq.fill(120)("b") ++ Seq.fill(60)("c") ++
      (1 to 40).map(i => s"rare$i")
    val df = rows.toDF("cat")
    val out = DifferentialPrivacy.dpHistogram(df, Seq("cat"),
      epsilon = 1.0, delta = 1e-6, seed = 3L)
      .as[(String, Double)].collect().toMap
    assert(out.keySet == Set("a", "b", "c"), out.keySet.toString)
    val tau = 1.0 + math.log(1.0 / (2.0 * 1e-6))
    assert(out.values.forall(_ >= math.rint(tau * 1e6) / 1e6))
    // released values are the plain dpCount releases (threshold only filters)
    val full = DifferentialPrivacy.dpCount(df, Seq("cat"), 1.0, 3L)
      .as[(String, Double)].collect().toMap
    out.foreach { case (k, v) => assert(full(k) == v, s"$k: $v vs ${full(k)}") }
    // loosening delta can only grow the released set
    val loose = DifferentialPrivacy.dpHistogram(df, Seq("cat"), 1.0, 0.4, 3L)
      .as[(String, Double)].collect().toMap
    assert(out.keySet.subsetOf(loose.keySet))
  }

  test("intervalOverlapJoin equals the naive overlap join, exactly once per pair") {
    val a = Seq(
      (7L, ts("2024-01-01 10:00:00"), ts("2024-01-03 10:00:00")), // spans 3 buckets
      (7L, ts("2024-01-05 00:00:00"), ts("2024-01-05 01:00:00")),
      (8L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"))
    ).toDF("user_id", "a_start", "a_end")
    val b = Seq(
      (7L, ts("2024-01-02 00:00:00"), ts("2024-01-06 00:00:00")), // overlaps both of 7's
      (7L, ts("2024-01-03 10:00:00"), ts("2024-01-03 11:00:00")), // touches a1's end exactly
      (8L, ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00")), // no overlap
      (9L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"))  // key absent from a
    ).toDF("user_id", "b_start", "b_end")
    val got = TimeSeries.intervalOverlapJoin(a, b, Seq("user_id"),
        "a_start", "a_end", "b_start", "b_end", bucketSeconds = 86400L)
      .select("user_id", "a_start", "b_start")
      .as[(Long, Timestamp, Timestamp)].collect()
    val naive = a.join(b, Seq("user_id"))
      .filter($"a_start" <= $"b_end" && $"b_start" <= $"a_end")
      .select("user_id", "a_start", "b_start")
      .as[(Long, Timestamp, Timestamp)].collect()
    assert(got.sorted.toSeq == naive.sorted.toSeq) // multiset equality: no dup, no miss
    assert(got.length == 3) // (a1,b1), (a1,b2 boundary-inclusive), (a2,b1)
  }

  test("throttleDedup keeps one event per gap-burst, recursive chain semantics") {
    val e = Seq(
      // user 7 click: a chain 2 min apart under a 5-min gap -> ONE kept
      (1L, 7L, "click", ts("2024-01-01 10:00:00")),
      (2L, 7L, "click", ts("2024-01-01 10:02:00")),
      (3L, 7L, "click", ts("2024-01-01 10:04:00")),
      (4L, 7L, "click", ts("2024-01-01 10:06:00")),
      // gap > 5 min: new burst
      (5L, 7L, "click", ts("2024-01-01 10:20:00")),
      // other type/user independent
      (6L, 7L, "view", ts("2024-01-01 10:01:00")),
      (7L, 8L, "click", ts("2024-01-01 10:00:00")),
      // exact 300 s boundary is NOT a new burst (> not >=)
      (8L, 8L, "click", ts("2024-01-01 10:05:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val kept = TimeSeries.throttleDedup(e, Seq("user_id", "event_type"), "ts",
        300L, "event_id")
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 6L, 7L))
  }

  test("svtAboveThreshold: transcript halts after the c-th release") {
    // 10 queries; values 0 or 1000 against threshold 500 with eps big
    // enough that noise (scale 4c/eps and 2/eps) cannot cross the gap.
    val q = (1 to 10).map(i => (f"q$i%02d", if (i % 3 == 0) 1000L else 0L))
      .toDF("qid", "v")
    val out = DifferentialPrivacy.svtAboveThreshold(q, Seq("qid"), "v",
        threshold = 500.0, epsilon = 100.0, c = 2, seed = 1L)
      .as[(String, Boolean)].collect().sortBy(_._1)
    // q03 and q06 are the first two above-threshold queries: the
    // transcript covers q01..q06 and stops there
    assert(out.map(_._1).toSeq == (1 to 6).map(i => f"q$i%02d"), out.mkString(","))
    assert(out.filter(_._2).map(_._1).toSeq == Seq("q03", "q06"))
    // c releases exactly
    assert(out.count(_._2) == 2)
  }

  test("svtAboveThreshold: all-below sequence emits every query as bot") {
    val q = (1 to 5).map(i => (i.toString, 0L)).toDF("qid", "v")
    val out = DifferentialPrivacy.svtAboveThreshold(q, Seq("qid"), "v",
        threshold = 500.0, epsilon = 100.0, c = 1, seed = 1L)
      .as[(String, Boolean)].collect()
    assert(out.length == 5 && out.forall(!_._2))
  }

  test("timeWeightedAvg: holds values over gaps; bursts don't over-weight") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    // v=10 for 9s, v=20 for 1s -> TWA (90+20)/10 = 11; arith mean 15
    val df = Seq(("g", t(0), 10.0), ("g", t(9), 20.0), ("g", t(10), 0.0))
      .toDF("g", "ts", "v")
    val r = TimeSeries.timeWeightedAvg(df, "g", "ts", "v")
      .select("n_points", "twa").as[(Long, Double)].head()
    assert(r == ((3L, 11.0)), r.toString)
    // a burst of 5 identical readings in one second barely moves it
    val burst = (0 to 4).map(i => ("b", new java.sql.Timestamp(9000L + i * 200), 20.0))
    val df2 = (Seq(("b", t(0), 10.0), ("b", t(10), 0.0)) ++ burst).toDF("g", "ts", "v")
    val r2 = TimeSeries.timeWeightedAvg(df2, "g", "ts", "v")
      .select("twa").as[Double].head()
    assert(r2 == 11.0, r2.toString)
    // single point: no duration -> null
    val one = Seq(("x", t(0), 5.0)).toDF("g", "ts", "v")
    assert(TimeSeries.timeWeightedAvg(one, "g", "ts", "v")
      .select("twa").collect().head.isNullAt(0))
  }

  test("ohlcBars: struct extrema pick open/close deterministically under ties") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      ("g", t("2024-01-01 00:00:01"), 5.0),
      ("g", t("2024-01-01 08:00:00"), 9.0),
      ("g", t("2024-01-01 09:00:00"), 1.0),
      // tie on the closing timestamp: lexicographic (ts, v) max -> 7.0
      ("g", t("2024-01-01 23:00:00"), 3.0),
      ("g", t("2024-01-01 23:00:00"), 7.0),
      ("g", t("2024-01-02 00:00:01"), 4.0)).toDF("g", "ts", "v")
    val r = TimeSeries.ohlcBars(df, "g", "ts", "v", "1 day")
      .orderBy("bar_start")
      .select("n_ticks", "open", "high", "low", "close")
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(r(0) == ((5L, 5.0, 9.0, 1.0, 7.0)), r(0).toString)
    assert(r(1) == ((1L, 4.0, 4.0, 4.0, 4.0)), r(1).toString)
  }

  test("resampleInterpolate: straight line through gaps, edge gaps clamp") {
    // key k: values 1.0 @ h0 and 4.0 @ h3 -> h1 = 2.0, h2 = 3.0;
    // key m: single point @ h1 -> leading h0 and trailing h2/h3 clamp
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1.0),
      ("k", ts("2024-01-01 03:00:00"), 4.0),
      ("m", ts("2024-01-01 01:30:00"), 9.0))
      .toDF("g", "ts", "v")
    val r = TimeSeries.resampleInterpolate(df, "g", "ts", "v", 3600L)
      .orderBy("g", "bucket")
      .select("g", "n_events", "value")
      .as[(String, Long, Double)].collect()
    assert(r.take(4).toSeq == Seq(("k", 1L, 1.0), ("k", 0L, 2.0),
      ("k", 0L, 3.0), ("k", 1L, 4.0)), r.mkString(","))
    assert(r.drop(4).toSeq == Seq(("m", 0L, 9.0), ("m", 1L, 9.0),
      ("m", 0L, 9.0), ("m", 0L, 9.0)), r.mkString(","))
  }

  test("rollingCorr: linear coupling reads 1.0; below minPeriods reads null") {
    // B = 2*A daily: every window with >= minPeriods days has corr 1
    val vols = Seq(5, 9, 2, 7, 4, 8, 3, 6)
    val rows = vols.zipWithIndex.flatMap { case (v, i) =>
      Seq.fill(v)(("A", ts(f"2024-01-${i + 1}%02d 10:00:00"))) ++
        Seq.fill(2 * v)(("B", ts(f"2024-01-${i + 1}%02d 10:00:00")))
    }
    val r = TimeSeries.rollingCorr(rows.toDF("event_type", "ts"),
        "event_type", "ts", "A", "B", window = 14, minPeriods = 5)
      .orderBy("day").select("n_window", "corr")
      .as[(Long, Option[Double])].collect()
    assert(r.take(4).forall(_._2.isEmpty), r.mkString(","))   // < minPeriods
    assert(r.drop(4).forall(_._2 == Some(1.0)), r.mkString(","))
  }

  test("seasonalAnomalies: weekly rhythm never flags; a broken Tuesday does") {
    // 3 clean weekly-patterned weeks, then one day at 10x its weekday
    val base = (0 until 28).map(i => (i, 7 * (i % 7 + 1)))
    val rows = base.flatMap { case (i, v) =>
      val n = if (i == 23) v * 10 else v
      Seq.fill(n)(("g", ts(f"2024-01-${i + 1}%02d 12:00:00")))
    }
    val r = TimeSeries.seasonalAnomalies(rows.toDF("g", "ts"), "g", "ts", 3.0)
      .orderBy("day").select("anomaly").as[Boolean].collect()
    // the spike day flags; the weekly rhythm itself never does
    assert(r(23), r.mkString(","))
    assert(r.count(identity) <= 3, r.mkString(","))  // spike + trend bleed only
  }

  test("crossCorrelation: a shifted copy peaks at exactly its lag") {
    // B's daily volume = A's two days later: corr at lag +2 must be 1.0
    val vols = Seq(5, 9, 2, 7, 4, 8, 3, 6)
    val rows = vols.zipWithIndex.flatMap { case (v, i) =>
      Seq.fill(v)(("A", ts(f"2024-01-${i + 1}%02d 10:00:00"))) ++
        Seq.fill(v)(("B", ts(f"2024-01-${i + 3}%02d 10:00:00")))
    }
    val r = TimeSeries.crossCorrelation(rows.toDF("event_type", "ts"),
        "event_type", "ts", "A", "B", maxLag = 3)
      .orderBy("lag").select("lag", "corr")
      .as[(Long, Option[Double])].collect().toMap
    assert(r(2L) == Some(1.0), r.toString)
    // at other lags the permuted series can't also be perfectly aligned
    assert(r(0L) != Some(1.0) && r(-2L) != Some(1.0), r.toString)
  }

  test("interEventGaps: per-user gaps within the group, singles excluded") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A", 0.0),
      (2L, ts("2024-01-01 10:00:10"), 1L, "A", 0.0),  // gap 10
      (3L, ts("2024-01-01 10:00:30"), 1L, "A", 0.0),  // gap 20
      // other user's event must NOT create a cross-user gap
      (4L, ts("2024-01-01 10:00:05"), 2L, "A", 0.0),
      (5L, ts("2024-01-01 11:00:00"), 1L, "B", 0.0))  // single -> no gap
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = TimeSeries.interEventGaps(ev, "event_type", "user_id", "ts",
        "event_id")
      .as[(String, Long, Double, Double, Double)].collect()
    // mean 15; p50 interpolates {10,20} -> 15; p90 -> 19
    assert(r.toSeq == Seq(("A", 2L, 15.0, 15.0, 19.0)), r.mkString(","))
  }

  test("periodChange: same-weekday deltas, zero/missing reference nulls") {
    // one event on day d repeated d times, days 1..9: day 8 vs day 1 =
    // +700%, day 9 vs day 2 = +250%; first 7 days have no reference
    val rows = (1 to 9).flatMap { d =>
      Seq.fill(d)(("g", ts(f"2024-01-0$d%d 08:00:00")))
    }
    val r = TimeSeries.periodChange(rows.toDF("g", "ts"), "g", "ts", 7)
      .orderBy("day").select("n", "n_prev", "pct_change")
      .as[(Long, Option[Long], Option[Double])].collect()
    assert(r.take(7).forall(x => x._2.isEmpty && x._3.isEmpty), r.mkString(","))
    assert(r(7) == ((8L, Some(1L), Some(7.0))), r(7).toString)
    assert(r(8) == ((9L, Some(2L), Some(3.5))), r(8).toString)
  }

  test("seasonalDecompose: pure weekly pattern = flat trend, zero remainder") {
    // 21 days, volume = 7*(dayIndex%7 + 1): every 7-day window sums to
    // 196 -> trend 28.0 on interior days; seasonal soaks the pattern,
    // remainder exactly 0; edge days (incomplete window) stay null
    val rows = (0 until 21).flatMap { i =>
      val day = ts(f"2024-01-${i + 1}%02d 12:00:00")
      Seq.fill(7 * (i % 7 + 1))(("g", day))
    }
    val r = TimeSeries.seasonalDecompose(rows.toDF("g", "ts"), "g", "ts")
      .orderBy("day")
      .select("n", "trend", "seasonal", "remainder")
      .as[(Long, Option[Double], Option[Double], Option[Double])].collect()
    assert(r.length == 21)
    val interior = r.slice(3, 18)
    assert(interior.forall(x => x._2 == Some(28.0) && x._4 == Some(0.0)),
      interior.mkString(","))
    // seasonal is the same for the same weekday, edge days included
    assert(r(0)._3 == r(7)._3 && r(0)._2.isEmpty && r(0)._4.isEmpty, r(0).toString)
    // day 4 (index 3) has volume 28 -> seasonal 0
    assert(r(3)._3 == Some(0.0), r(3).toString)
  }

  test("ewmaAnomalies: constant series never flags; an injected spike does") {
    // 10 constant days then a 100x spike: sigma of the trailing window
    // is 0 until the spike day, where |x - prev_ewma| >> 3 sigma... but
    // sigma is 0 -> the rule needs sigma > 0, so seed tiny jitter
    val base = (1 to 12).map(d => ("g", d.toLong, if (d % 2 == 0) 11L else 9L))
    val spiked = base :+ (("g", 13L, 1000L))
    val r = TimeSeries.ewmaAnomalies(spiked.toDF("g", "t", "x"), "g", "t", "x")
      .orderBy("t").select("t", "anomaly").as[(Long, Boolean)].collect()
    assert(r.count(_._2) == 1 && r.last == ((13L, true)), r.mkString(","))
    // ewma of the first row is the value itself
    val first = TimeSeries.ewmaAnomalies(spiked.toDF("g", "t", "x"), "g", "t", "x")
      .orderBy("t").select("ewma").as[Double].head()
    assert(first == 9.0)
  }

  test("holtSmoothing matches a plain-Scala fold; degenerate groups behave") {
    val rows = Seq(
      ("a", 1L, 10.0), ("a", 2L, 12.0), ("a", 3L, 15.0), ("a", 4L, 19.0),
      ("b", 1L, 5.0), ("b", 2L, 5.0), ("b", 3L, 5.0),
      ("c", 1L, 42.0)) // single point: level = y, trend = 0
    val got = TimeSeries.holtSmoothing(rows.toDF("g", "t", "x"), "g", "t", "x",
        alpha = 0.5, beta = 0.25, horizon = 7)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def ref(ys: Seq[Double]): (Double, Double) =
      ys.tail.foldLeft((ys.head, 0.0)) { case ((l, b), y) =>
        val ln = 0.5 * y + 0.5 * (l + b)
        (ln, 0.25 * (ln - l) + 0.75 * b)
      }
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    Seq("a" -> Seq(10.0, 12.0, 15.0, 19.0), "b" -> Seq(5.0, 5.0, 5.0),
        "c" -> Seq(42.0)).foreach { case (g, ys) =>
      val (l, b) = ref(ys)
      assert(got(g) == ((ys.size.toLong, r6(l), r6(b), r6(l + 7 * b))), g)
    }
    // a flat series forecasts itself; the single point has zero trend
    assert(got("b")._4 == 5.0 && got("c") == ((1L, 42.0, 0.0, 42.0)))
    // a rising series forecasts above its last level
    assert(got("a")._4 > got("a")._2)
  }

  test("decayWeightedAgg: anchor weighs 1, one half-life weighs exactly 0.5") {
    import spark.implicits._
    val df = Seq(
      ("u1", Timestamp.valueOf("2026-03-31 10:00:00"), 2.0), // anchor day
      ("u1", Timestamp.valueOf("2026-03-01 09:00:00"), 4.0), // 30 d before
      ("u2", Timestamp.valueOf("2026-03-31 23:00:00"), 6.0))
      .toDF("u", "ts", "v")
    val got = TimeSeries.decayWeightedAgg(df, "u", "ts", "v",
        halfLifeDays = 30)
      .orderBy("u")
      .select("u", "n", "decayed_sum", "decayed_count")
      .as[(String, Long, Double, Double)].collect()
    // u1: 2.0·1.0 + 4.0·0.5 = 4.0; weights 1.0 + 0.5
    assert(got(0) == (("u1", 2L, 4.0, 1.5)), got(0).toString)
    assert(got(1) == (("u2", 1L, 6.0, 1.0)), got(1).toString)
  }

  test("forecastBacktest: hand MAE for naive and seasonal-naive") {
    import spark.implicits._
    // one event per day, values 1..10 -> naive MAE = 1 (9 days),
    // season=3 -> snaive MAE = 3 (7 days)
    val df = (1 to 10).map(i =>
        ("g", Timestamp.valueOf(f"2026-03-$i%02d 12:00:00"), i.toDouble))
      .toDF("g", "ts", "v")
    val got = TimeSeries.forecastBacktest(df, "g", "ts", "v", season = 3)
      .orderBy("method").select("method", "n", "mae")
      .as[(String, Long, Double)].collect()
    assert(got.toSeq == Seq(("naive", 9L, 1.0), ("seasonal_naive", 7L, 3.0)),
      got.mkString(", "))
  }

  test("dpTopK: huge epsilon recovers the exact top-k; fixed seed deterministic") {
    // counts: a=5, b=4, c=3, d=1
    val df = (Seq.fill(5)("a") ++ Seq.fill(4)("b") ++ Seq.fill(3)("c")
      ++ Seq("d")).toDF("item")
    // eps huge: Gumbel noise at scale k/eps ~ 0 — ranking = true counts
    val exact = DifferentialPrivacy.dpTopK(df, "item", k = 3,
        epsilon = 1e9, seed = 1L)
      .orderBy("rank").select("item").as[String].collect().toSeq
    assert(exact == Seq("a", "b", "c"), exact.toString)
    // fixed seed -> identical selection; k rows, ranks 1..k
    val a1 = DifferentialPrivacy.dpTopK(df, "item", 2, 1.0, 7L)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    val a2 = DifferentialPrivacy.dpTopK(df, "item", 2, 1.0, 7L)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    assert(a1 == a2 && a1.map(_._1) == Seq(1L, 2L), a1.toString)
  }
}
