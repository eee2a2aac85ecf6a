package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GeneralizationSpec extends SparkSpec {
  import spark.implicits._

  test("equalWidthBin: 0..10 into 5 bins, max value clamped into last bin") {
    val df = (0 to 10).map(_.toDouble).toDF("x")
    val out = Generalization.equalWidthBin(df, "x", 5, "bin")
      .select("x", "bin").as[(Double, Long)].collect().toMap
    assert(out(0.0) == 0L && out(1.0) == 0L)
    assert(out(2.0) == 1L)
    assert(out(9.0) == 4L)
    assert(out(10.0) == 4L) // clamped
  }

  test("equalWidthBin: constant column -> all bin 0") {
    val df = Seq(7.0, 7.0, 7.0).toDF("x")
    val bins = Generalization.equalWidthBin(df, "x", 3, "bin")
      .select("bin").as[Long].collect().toSet
    assert(bins == Set(0L))
  }

  test("equalWidthBins: each column binned as equalWidthBin does, moved to the end") {
    val df = (0 to 10).map(i => (i.toDouble, s"r$i", (i * 7 % 11).toLong, 3.0)).toDF("x", "id", "y", "z")
    val out = Generalization.equalWidthBins(df, Seq("x" -> 5, "y" -> 3, "z" -> 2))
    assert(out.columns.toSeq == Seq("id", "x", "y", "z"))
    val one = Seq("x" -> 5, "y" -> 3, "z" -> 2).foldLeft(df) { case (acc, (c, n)) =>
      Generalization.equalWidthBin(acc, c, n, s"${c}_bin")
    }
    val want = one.select("id", "x_bin", "y_bin", "z_bin").as[(String, Long, Long, Long)]
      .collect().sorted.toSeq
    assert(out.as[(String, Long, Long, Long)].collect().sorted.toSeq == want)
  }

  test("generalize replaces QI values with group min-max ranges") {
    val df = Seq(
      (1, 10, 100), (1, 20, 200),
      (2, 5, 50)
    ).toDF("cluster", "a", "b")
    val out = Generalization.generalize(df, "cluster", Seq("a", "b"))
      .select("cluster", "a", "b").as[(Int, String, String)].collect().toSet
    assert(out == Set((1, "10-20", "100-200"), (1, "10-20", "100-200"), (2, "5-5", "50-50")))
  }

  test("equalDepthBin yields ~equal counts; values at an edge stay in the lower bin") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val binned = Generalization.equalDepthBin(df, "v", 4, "b")
    val counts = binned.groupBy("b").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet == Set(0L, 1L, 2L, 3L))
    assert(counts.values.forall(c => c >= 24 && c <= 26), counts.toString)
    // edges for 1..100 are 25.75 / 50.5 / 75.25: 25 -> bin 0, 26 -> bin 1
    val got = binned.filter($"v".isin(25.0, 26.0, 50.0, 51.0))
      .select("v", "b").as[(Double, Long)].collect().toMap
    assert(got == Map(25.0 -> 0L, 26.0 -> 1L, 50.0 -> 1L, 51.0 -> 2L))
    // right-closed: a value exactly equal to an edge stays below it
    val edgeDf = Seq(1.0, 2.0, 2.0, 3.0).toDF("v") // median = 2.0 = a data value
    val eb = Generalization.equalDepthBin(edgeDf, "v", 2, "b")
      .filter($"v" === 2.0).select("b").as[Long].collect()
    assert(eb.forall(_ == 0L))
  }

  test("fullDomainGeneralize picks the coarsest-necessary level; root suppresses") {
    // 30 rows, values 0..29: width 10 -> min class 10 >= 5 picks level 1
    // (width 5 leaves classes of 5 >= 5 -> actually level 0 admissible).
    // Force level 1: k=6 makes width-5 classes (size 5) inadmissible.
    val df = (0 until 30).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val g1 = Generalization.fullDomainGeneralize(df, "v", Nil, k = 6,
      widths = Seq(5L, 10L))
    assert(g1.select("glevel").distinct().as[Long].collect().toSeq == Seq(1L))
    val r = g1.filter($"id" === 17L).select("v").as[String].head()
    assert(r == "[10,20)")
    // k = 5: the finest level already passes
    val g0 = Generalization.fullDomainGeneralize(df, "v", Nil, k = 5,
      widths = Seq(5L, 10L))
    assert(g0.select("glevel").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(g0.filter($"id" === 17L).select("v").as[String].head() == "[15,20)")
    // unreachable k: suppress to the hierarchy root
    val gx = Generalization.fullDomainGeneralize(df, "v", Nil, k = 31,
      widths = Seq(5L, 10L))
    assert(gx.select("v").distinct().as[String].collect().toSeq == Seq("*"))
    assert(gx.select("glevel").distinct().as[Long].collect().toSeq == Seq(-1L))
  }

  test("fullDomainGeneralize respects other QIs and negative values") {
    // two groups x values -10..9: width 10 with group split -> classes of 5
    val df = (0 until 20).map(i => (i % 2, (i - 10).toDouble)).toDF("g", "v")
    val got = Generalization.fullDomainGeneralize(df, "v", Seq("g"), k = 5,
      widths = Seq(10L, 20L))
    assert(got.select("glevel").distinct().as[Long].collect().toSeq == Seq(0L))
    val ranges = got.select("v").distinct().as[String].collect().toSet
    assert(ranges == Set("[-10,0)", "[0,10)"))
  }

  test("quantileNormalizeMap maps each group's tiles onto the cross-group mean") {
    // group A = 1..40, group B = 101..140: tile t of A averages with
    // tile t of B -> target = A's tile mean + 50
    val df = ((1 to 40).map(("A", _)) ++ (101 to 140).map(("B", _)))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v.toDouble) }
      .toDF("id", "grp", "v")
    val got = Generalization.quantileNormalizeMap(df, "grp", "v", 4, "id")
      .select("grp", "tile", "tile_avg_raw", "target", "n")
      .as[(String, Long, Double, Double, Long)].collect()
    assert(got.length == 8 && got.forall(_._5 == 10L))
    got.foreach { case (g, t, raw, target, _) =>
      val aRaw = if (g == "A") raw else raw - 100.0    // B's values = A's + 100
      assert(math.abs(target - (aRaw + 50.0)) < 1e-9, s"($g, $t)")
    }
    intercept[IllegalArgumentException] {
      Generalization.quantileNormalizeMap(df, "grp", "v", 1, "id")
    }
  }

  test("fullDomainGeneralize2d walks the lattice to the least admissible node") {
    // 40 rows over a 2x2 value grid: (x in 0..19, y = x % 10 * 2)
    val df = (0 until 40).map(i => (i.toLong, (i % 20).toDouble, (i % 10 * 2).toDouble))
      .toDF("id", "x", "y")
    // level (0,0): x-width 10 (2 bins), y-width 10 (2 bins) -> 4 classes
    // of 10 each; k=10 admissible at the lattice bottom
    val g0 = Generalization.fullDomainGeneralize2d(df, "x", Seq(10L, 20L),
      "y", Seq(10L, 20L), Nil, k = 10)
    assert(g0.select("glevel_a", "glevel_b").distinct()
      .as[(Long, Long)].collect().toSeq == Seq((0L, 0L)))
    // k=11: (0,0) fails; total-level-1 nodes (1,0)/(0,1) give classes of
    // 20 -> chooses (0,1) by the la tiebreak preference for earlier A
    val g1 = Generalization.fullDomainGeneralize2d(df, "x", Seq(10L, 20L),
      "y", Seq(10L, 20L), Nil, k = 11)
    assert(g1.select("glevel_a", "glevel_b").distinct()
      .as[(Long, Long)].collect().toSeq == Seq((0L, 1L)))
    // unreachable k -> root suppression
    val gx = Generalization.fullDomainGeneralize2d(df, "x", Seq(10L),
      "y", Seq(10L), Nil, k = 41)
    assert(gx.select("x").distinct().as[String].collect().toSeq == Seq("*"))
    assert(gx.select("glevel_a").distinct().as[Long].collect().toSeq == Seq(-1L))
  }
}
