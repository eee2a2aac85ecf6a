package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DeterministicKMeansSpec extends SparkSpec {
  import spark.implicits._

  test("two well-separated blobs split cleanly at k=2, ids in tuple order") {
    // blob A around 10, blob B around 1000 — any sane k=2 fit separates
    val df = ((1 to 20).map(i => (i.toLong, 10.0 + i % 3)) ++
      (21 to 40).map(i => (i.toLong, 1000.0 + i % 3))).toDF("id", "x")
    val out = DeterministicKMeans.assign(df, Seq("x"), k = 2, iters = 8)
    val byCluster = out.groupBy("cluster").agg(min("x").as("mn"), max("x").as("mx"))
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(byCluster.length == 2)
    // cluster 0 seeds from the LOWEST tuple (init is tuple-ordered)
    assert(byCluster(0)._3 < 100 && byCluster(1)._2 > 900,
      byCluster.mkString(", "))
    graft.QueryCleanup.drain()
  }

  test("the fit is deterministic: two independent runs assign identically") {
    val df = (1 to 300).map(i =>
      (i.toLong, (i * 37 % 101).toDouble, (i * 13 % 7).toDouble)).toDF("id", "x", "y")
    def run() = DeterministicKMeans.assign(df, Seq("x", "y"), k = 5)
      .select("id", "cluster").as[(Long, Int)].collect().sortBy(_._1).toSeq
    val a = run(); val b = run()
    graft.QueryCleanup.drain()
    assert(a == b)
    assert(a.map(_._2).distinct.size > 1, "more than one cluster in use")
  }

  test("every row keeps exactly one cluster; k bounds the id range") {
    val df = (1 to 150).map(i => (i.toLong, (i % 23).toDouble)).toDF("id", "x")
    val out = DeterministicKMeans.assign(df, Seq("x"), k = 4)
    graft.QueryCleanup.drain()
    assert(out.count() == 150)
    val ids = out.select("cluster").distinct().as[Int].collect().sorted
    assert(ids.forall(c => c >= 0 && c < 4), ids.mkString(","))
  }

  test("fewer distinct tuples than k degrades to fewer centers (GraftKMeans contract)") {
    val df = Seq.fill(30)((1L, 5.0)).zipWithIndex
      .map { case ((_, x), i) => (i.toLong, x + (i % 2)) }.toDF("id", "x")
    // only 2 distinct standardized tuples; k=10 must yield <= 2 clusters
    val out = DeterministicKMeans.assign(df, Seq("x"), k = 10)
    graft.QueryCleanup.drain()
    assert(out.select("cluster").distinct().count() <= 2)
  }

  test("a constant feature standardizes to zero and never crashes the fit") {
    val df = (1 to 50).map(i => (i.toLong, 7.0, (i % 5).toDouble)).toDF("id", "c", "x")
    val out = DeterministicKMeans.assign(df, Seq("c", "x"), k = 3)
    graft.QueryCleanup.drain()
    assert(out.count() == 50)
    assert(out.select("cluster").distinct().count() <= 3)
  }

  test("anonymizeDeterministic renders one range per cluster over every QI") {
    val df = (1 to 120).map(i =>
      (i.toLong, (i * 31 % 97).toDouble, if (i % 3 == 0) "AUTO" else "HOUSE"))
      .toDF("id", "bal", "seg")
    val res = ClusteringAnonymizer.anonymizeDeterministic(df,
      numericCols = Seq("bal"), categoricalCols = Seq("seg"), nClusters = 4,
      generalizeColsOpt = Some(Seq("bal", "__idx_seg")))
    val g = res.generalized
    graft.QueryCleanup.drain()
    assert(g.count() == 120)
    val ranges = g.groupBy("cluster")
      .agg(countDistinct("bal").as("rb"), countDistinct("__idx_seg").as("rs"))
      .agg(max(greatest($"rb", $"rs"))).head().getLong(0)
    assert(ranges == 1L, "exactly one rendered range per cluster per QI")
  }

  /** The messages down `body`'s exception cause chain. */
  private def failure(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" / ")
  }

  test("assign fails on a NULL feature, naming the column") {
    val df = (1 to 20).map(i => (i.toLong, Option.when(i != 7)(i.toDouble)))
      .toDF("id", "balance")
    val msg = failure(DeterministicKMeans.assign(df, Seq("balance"), k = 2).collect())
    graft.QueryCleanup.drain()
    assert(msg.contains("balance holds a NULL value"), msg)
  }

  test("fitArrayMicros fails on a NULL vector, a NULL element or a ragged vector") {
    val good = (1 to 20).map(i => (i.toLong, Option(Seq(Option(i.toDouble), Option(1.0)))))
    val isNull = "emb holds a NULL vector or element"
    Seq(((21L, None), isNull), ((21L, Some(Seq(Some(2.0), None))), isNull),
        ((21L, Some(Seq(Some(2.0)))), "emb holds a vector of length 1")).foreach {
      case (bad, expected) =>
        val df = (good :+ bad).toDF("id", "emb")
        val msg = failure(DeterministicKMeans.fitArrayMicros(df, "emb", k = 3)._2.collect())
        graft.QueryCleanup.drain()
        assert(msg.contains(expected), msg)
    }
  }

  test("fitGroupedArrayMicros fails on a ragged vector within a group") {
    val df = ((1 to 20).map(i => (i % 2, Seq(i.toDouble, 1.0))) :+ ((1, Seq(5.0))))
      .toDF("g", "emb")
    val msg = failure(DeterministicKMeans.fitGroupedArrayMicros(df, "g", "emb", k = 3))
    graft.QueryCleanup.drain()
    assert(msg.contains("emb holds a vector of length 1"), msg)
  }

  test("anonymizeDeterministic fails on a NULL categorical instead of dropping its row") {
    val df = (1 to 40).map(i =>
      (i.toLong, (i * 31 % 97).toDouble, Option.when(i != 5)(if (i % 3 == 0) "AUTO" else "HOUSE")))
      .toDF("id", "bal", "seg")
    val msg = failure(ClusteringAnonymizer.anonymizeDeterministic(df,
      numericCols = Seq("bal"), categoricalCols = Seq("seg"), nClusters = 4)
      .generalized.collect())
    graft.QueryCleanup.drain()
    assert(msg.contains("__idx_seg holds a NULL value"), msg)
  }
}
