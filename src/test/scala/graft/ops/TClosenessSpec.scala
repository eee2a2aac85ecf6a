package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TClosenessSpec extends SparkSpec {
  import spark.implicits._

  test("groupEmd: group identical to global has EMD 0") {
    // Two groups with identical 50/50 distributions over positions {0,1}.
    val df = Seq(
      ("g1", 0.0), ("g1", 1.0),
      ("g2", 0.0), ("g2", 1.0)
    ).toDF("g", "pos")
    val emd = TCloseness.groupEmd(df, Seq("g"), "pos")
      .select("emd").as[Double].collect()
    assert(emd.forall(math.abs(_) < 1e-12))
    // a one-position domain: every group equals the global distribution
    val single = TCloseness.groupEmd(df.filter(col("pos") === 0.0), Seq("g"), "pos")
      .select("emd").as[Double].collect()
    assert(single.toSeq == Seq(0.0, 0.0), single.toSeq)
  }

  test("groupEmd: disjoint point masses = distance between positions") {
    // global = {0: 1/2, 3: 1/2}; group g0 all at 0, g3 all at 3.
    // EMD(point at 0 vs global) = |1 - 0.5| * (3-0) = 1.5; same for g3.
    val df = Seq(
      ("g0", 0.0), ("g0", 0.0),
      ("g3", 3.0), ("g3", 3.0)
    ).toDF("g", "pos")
    val emd = TCloseness.groupEmd(df, Seq("g"), "pos")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("emd")).toMap
    assert(math.abs(emd("g0") - 1.5) < 1e-12)
    assert(math.abs(emd("g3") - 1.5) < 1e-12)
  }

  test("groupTv: categorical total variation, hand-computed") {
    // global over {a, b, c}: a=3/6, b=2/6, c=1/6
    // g1 = {a,a,b}: p=(2/3, 1/3, 0)   -> TV = (|2/3-1/2|+|1/3-1/3|+|0-1/6|)/2 = 1/6
    // g2 = {a,b,c}: p=(1/3, 1/3, 1/3) -> TV = (|1/3-1/2|+0+|1/3-1/6|)/2 = 1/6
    val df = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g2", "a"), ("g2", "b"), ("g2", "c")
    ).toDF("g", "s")
    val tv = TCloseness.groupTv(df, Seq("g"), "s")
      .select("g", "tv").as[(String, Double)].collect().toMap
    assert(math.abs(tv("g1") - 1.0 / 6) < 1e-12, tv.toString)
    assert(math.abs(tv("g2") - 1.0 / 6) < 1e-12, tv.toString)
    // a group matching the global distribution exactly has TV 0
    val uniform = Seq(("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "b"))
      .toDF("g", "s")
    val tv0 = TCloseness.groupTv(uniform, Seq("g"), "s")
      .select("tv").as[Double].collect()
    assert(tv0.forall(math.abs(_) < 1e-12))
  }

  test("groupTv: NULL QI and NULL sensitive values keep their mass") {
    // null QI is a real group; null sensitive value is a real category.
    // With a plain `=` densify join both would be zeroed (p no longer
    // summing to 1) while __q still carried the null mass.
    val df = Seq(
      ("g1", "a"), ("g1", null),
      (null, "a"), (null, null)
    ).toDF("g", "s")
    // global over {a, null}: 1/2 each; both groups are exactly 50/50 -> TV 0
    val tv = TCloseness.groupTv(df, Seq("g"), "s")
      .select("tv").as[Double].collect()
    assert(tv.length == 2 && tv.forall(math.abs(_) < 1e-12), tv.toSeq.toString)
    // and a skewed null-QI group measures a REAL distance, not null/zero
    val skewed = Seq(("g1", "a"), ("g1", "b"), (null, "a"), (null, "a"))
      .toDF("g", "s")
    val tvNull = TCloseness.groupTv(skewed, Seq("g"), "s")
      .filter(col("g").isNull).select("tv").as[Double].collect()
    // global: a=3/4, b=1/4; null group p=(1,0) -> TV = (1/4 + 1/4)/2 = 1/4
    assert(tvNull.toSeq == Seq(0.25))
  }

  test("groupEmdAgg routes a >MaxDomain sensitive domain to groupEmd") {
    import graft.functions.EmdAggregator
    // 1500 distinct positions > MaxDomain=1024: the map-per-group
    // aggregator would hold unbounded state, so the call must fall back
    // to groupEmd's class table — and still produce the right numbers.
    val wide = spark.range(3000)
      .selectExpr("concat('g', id % 2) AS g", "CAST(id % 1500 AS DOUBLE) AS pos")
    val agg = TCloseness.groupEmdAgg(wide, Seq("g"), "pos")
    assert(!agg.queryExecution.optimizedPlan.toString.contains("EmdAggregator"))
    val viaAgg = agg.select("g", "emd").as[(String, Double)].collect().toMap
    val viaGroupEmd = TCloseness.groupEmd(wide, Seq("g"), "pos")
      .select("g", "emd").as[(String, Double)].collect().toMap
    assert(viaAgg.keySet == Set("g0", "g1"))
    assert(viaAgg == viaGroupEmd)
    // g0 holds 2/1500 at each even position against the global 1/1500 at
    // every position: cumP − cumQ alternates 1/1500 and 0 over 1499 unit
    // gaps, 750 times 1/1500
    assert(math.abs(viaAgg("g0") - 1.0 / 2) < 1e-9, viaAgg)
    // and constructing the aggregator above the bound is an eager error
    val tooWide = (0 to EmdAggregator.MaxDomain)
      .map(i => i.toDouble -> 1.0 / (EmdAggregator.MaxDomain + 1)).toMap
    val err = intercept[IllegalArgumentException] { new EmdAggregator(tooWide) }
    assert(err.getMessage.contains("state bound"))
  }

  test("no t-closeness EMD plan holds a window, and groupEmdAgg equals groupEmd") {
    val df = (1 to 40).map(i => (s"g${i % 3}", (i % 5).toLong)).toDF("g", "pos")
    def windowless(p: DataFrame): Boolean = {
      val plan = p.queryExecution.executedPlan.toString
      !plan.contains("Window") && !plan.contains("CartesianProduct")
    }
    val emd = TCloseness.groupEmd(df, Seq("g"), "pos")
    assert(windowless(emd))
    assert(windowless(TCloseness.groupEmdAgainst(df.filter(col("pos") < 3), df, Seq("g"), "pos")))
    assert(windowless(TCloseness.filter(df, Seq("g"), "pos", k = 2, t = 0.5)))
    graft.QueryCleanup.drain()
    val agg = TCloseness.groupEmdAgg(df, Seq("g"), "pos")
    assert(agg.queryExecution.optimizedPlan.toString.contains("EmdAggregator"))
    val viaAgg = agg.select("g", "emd").as[(String, Double)].collect().toMap
    assert(viaAgg == emd.select("g", "emd").as[(String, Double)].collect().toMap)
  }

  test("groupEmd and filter handle NULL-QI groups") {
    val df = Seq(
      ("g1", 0.0), ("g1", 1.0),
      (null, 0.0), (null, 1.0)
    ).toDF("g", "pos")
    val emd = TCloseness.groupEmd(df, Seq("g"), "pos")
      .select("emd").as[Double].collect()
    assert(emd.length == 2 && emd.forall(math.abs(_) < 1e-12), emd.toSeq.toString)
    // both groups match the global 50/50 -> all 4 rows survive k=2, t=0.01
    assert(TCloseness.filter(df, Seq("g"), "pos", k = 2, t = 0.01).count() == 4)
  }

  test("filter applies k then t; violationCount is 0 on surviving rows") {
    // skew: small group with extreme distribution + big balanced group
    val rows =
      (1 to 10).map(i => ("big", if (i <= 5) 0.0 else 1.0)) ++
        (1 to 4).map(_ => ("odd", 1.0)) ++
        Seq(("tiny", 0.0)) // killed by k
    val df = rows.toDF("g", "pos")
    val out = TCloseness.filter(df, Seq("g"), "pos", k = 2, t = 0.3).cache()
    val gs = out.select("g").distinct().as[String].collect().toSet
    assert(gs == Set("big")) // odd fails t (EMD vs global > 0.3), tiny fails k
    assert(TCloseness.violationCount(out, Seq("g"), "pos", 0.5) == 0)
    out.unpersist()
  }

  test("groupEmdAgainst rejects positions outside the reference domain") {
    val df = Seq(("g1", 0.0), ("g1", 2.0)).toDF("g", "pos")
    val ref = Seq(("x", 0.0), ("x", 1.0)).toDF("g", "pos") // no pos=2
    val e = intercept[IllegalArgumentException] {
      TCloseness.groupEmdAgainst(df, ref, Seq("g"), "pos")
    }
    assert(e.getMessage.contains("not in referenceDf"), e.getMessage)
    // and the subset case still works: df ⊆ ref basis
    val ok = TCloseness.groupEmdAgainst(
      df.filter(col("pos") === 0.0), df, Seq("g"), "pos")
    assert(ok.count() == 1)
  }

  test("violationCount against a held basis counts what groupEmd flags and rejects positions outside it") {
    val rows =
      (1 to 10).map(i => ("big", if (i <= 5) 0L else 3L)) ++
        (1 to 4).map(_ => ("odd", 3L)) ++ Seq(("tiny", 0L), ("mid", 1L), ("mid", 3L))
    val df = rows.toDF("g", "pos")
    val own = TCloseness.EmdBasis(Vector(0.0 -> 6L, 1.0 -> 1L, 3.0 -> 11L)) // df's own
    Seq(0.0, 0.3, 1.0, 2.0).foreach { t =>
      val flagged = TCloseness.groupEmd(df, Seq("g"), "pos").filter(col("emd") > t).count()
      assert(TCloseness.violationCount(df, Seq("g"), "pos", t, Some(own)) == flagged, s"t=$t")
      assert(TCloseness.violationCount(df, Seq("g"), "pos", t) == flagged, s"t=$t")
    }
    val basis = TCloseness.EmdBasis(Vector(0.0 -> 6L, 3.0 -> 9L)) // no pos=1
    val e = intercept[IllegalArgumentException] {
      TCloseness.violationCount(df, Seq("g"), "pos", 0.3, Some(basis))
    }
    assert(e.getMessage.contains("positions 1 occur") &&
      e.getMessage.contains("not in referenceDf"), e.getMessage)
    assert(TCloseness.violationCount(df.filter(col("pos") =!= 1L), Seq("g"), "pos", 10.0,
      Some(basis)) == 0L)
  }

  test("a NULL sensitive position has no ground distance: no class is released") {
    // the domain {NULL, 0}: every class is densified against it, so every
    // EMD is NULL — even g2's, which holds no NULL row itself
    val df = Seq(("g1", Some(0L)), ("g1", None), ("g2", Some(0L)), ("g2", Some(0L)))
      .toDF("g", "pos")
    val emd = TCloseness.groupEmd(df, Seq("g"), "pos").select("emd").collect()
    assert(emd.length == 2 && emd.forall(_.isNullAt(0)), emd.toSeq)
    assert(TCloseness.filter(df, Seq("g"), "pos", k = 1, t = 10.0).count() == 0)
    // and the same with more than one non-NULL position
    val wider = df.union(Seq(("g1", Some(1L)), ("g2", Some(1L))).toDF("g", "pos"))
    assert(TCloseness.filter(wider, Seq("g"), "pos", k = 1, t = 10.0).count() == 0)
  }

  test("ordinal encodes alphabetically from 0") {
    val df = Seq("carrot", "apple", "banana", "apple").toDF("v")
    val enc = TCloseness.ordinal(df, "v", "idx")
      .select("v", "idx").as[(String, Long)].collect().toSet
    assert(enc == Set(("apple", 0L), ("banana", 1L), ("carrot", 2L)))
  }

  test("ordinal orders numeric domains numerically, not lexicographically") {
    val df = Seq(10, 2, 100, 2).toDF("v")
    val enc = TCloseness.ordinal(df, "v", "idx")
      .select("v", "idx").as[(Int, Long)].collect().toSet
    assert(enc == Set((2, 0L), (10, 1L), (100, 2L))) // lexicographic would rank 10 < 2
  }

  test("ordinal fails fast on a high-cardinality column instead of collecting it") {
    val wide = spark.range(TCloseness.MaxOrdinalDomain + 5L).toDF("v")
    val e = intercept[IllegalArgumentException] {
      TCloseness.ordinal(wide, "v", "idx")
    }
    assert(e.getMessage.contains("Bin it first"), e.getMessage)
  }
}
