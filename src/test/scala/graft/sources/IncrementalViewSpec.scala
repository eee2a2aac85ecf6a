package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = s"${tempDir(s"graft_ivm_$tag")}/table"

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, s"k${i % 3}", i * 1.5)).toDF("id", "k", "v")

  test("build + incremental refreshes == full recompute, bit for bit") {
    val table = tmp("t"); val view = tmp("v")
    SnapshotStore.commit(rows(1 to 100), table, "b0")
    IncrementalView.build(spark, table, view, Seq("k"), Seq("v"))
    SnapshotStore.commitAppend(rows(101 to 170), table, "b1")
    IncrementalView.refresh(spark, table, view, Seq("k"), Seq("v"))
    SnapshotStore.commitAppend(rows(171 to 250), table, "b2")
    val vv = IncrementalView.refresh(spark, table, view, Seq("k"), Seq("v"))
    assert(vv == 3L) // build + 2 refreshes

    val got = IncrementalView.read(spark, view)
      .orderBy("k").as[(String, Long, java.math.BigDecimal)].collect()
    val want = rows(1 to 250)
      .groupBy($"k").agg(count(lit(1)).as("n_rows"),
        sum($"v".cast("decimal(28,6)")).as("sum_v"))
      .orderBy("k").as[(String, Long, java.math.BigDecimal)].collect()
    assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
  }

  test("one refresh catches up over multiple pending appends (lag tolerance)") {
    val table = tmp("t2"); val view = tmp("v2")
    SnapshotStore.commit(rows(1 to 50), table)
    IncrementalView.build(spark, table, view, Seq("k"), Seq("v"))
    SnapshotStore.commitAppend(rows(51 to 80), table)
    SnapshotStore.commitAppend(rows(81 to 120), table)
    IncrementalView.refresh(spark, table, view, Seq("k"), Seq("v"))
    val n = IncrementalView.read(spark, view)
      .agg(sum($"n_rows")).as[Long].head()
    assert(n == 120L)
    assert(IncrementalView.covered(spark, view) == 3L)
  }

  test("refresh is a no-op at head; chain reset refuses with rebuild guidance") {
    val table = tmp("t3"); val view = tmp("v3")
    SnapshotStore.commit(rows(1 to 30), table)
    val v1 = IncrementalView.build(spark, table, view, Seq("k"), Seq("v"))
    assert(IncrementalView.refresh(spark, table, view, Seq("k"), Seq("v")) == v1)
    // compact resets the chain: delta no longer derivable
    SnapshotStore.commitAppend(rows(31 to 40), table)
    SnapshotStore.compact(spark, table)
    val e = intercept[IllegalArgumentException](
      IncrementalView.refresh(spark, table, view, Seq("k"), Seq("v")))
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // rebuild recovers
    IncrementalView.build(spark, table, view, Seq("k"), Seq("v"))
    assert(IncrementalView.read(spark, view)
      .agg(sum($"n_rows")).as[Long].head() == 40L)
  }

  test("readDelta: same-version is empty; disjoint chains refuse") {
    val table = tmp("t4")
    SnapshotStore.commit(rows(1 to 10), table)
    SnapshotStore.commitAppend(rows(11 to 25), table)
    assert(SnapshotStore.readDelta(spark, table, 2L, 2L).count() == 0)
    assert(SnapshotStore.readDelta(spark, table, 1L, 2L).count() == 15)
    SnapshotStore.commit(rows(1 to 5), table) // full commit resets chain
    val e = intercept[IllegalArgumentException](
      SnapshotStore.readDelta(spark, table, 2L, 3L))
    assert(e.getMessage.contains("append chain"), e.getMessage)
  }
}
