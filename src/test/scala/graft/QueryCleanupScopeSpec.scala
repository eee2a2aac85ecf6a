package graft

import graft.sources.{IncrementalView, SnapshotStore}
import org.apache.spark.sql.functions._

/** Regression suite for the q198 gate-only hash flake: cleanup hooks are
  * scoped per query, so one query's drain can never delete another
  * in-flight query's scratch or release its checkpoints — the poisoning
  * channel when a harness overlaps two queries in one JVM.
  */
class QueryCleanupScopeSpec extends SparkSpec {
  import spark.implicits._

  test("drain(name) runs only that scope's hooks; others stay pending") {
    var aRan = 0; var bRan = 0; var bareRan = 0
    QueryCleanup.scoped("qA")(QueryCleanup.register(() => aRan += 1))
    QueryCleanup.scoped("qB")(QueryCleanup.register(() => bRan += 1))
    QueryCleanup.register(() => bareRan += 1) // unscoped
    QueryCleanup.drain("qB")
    assert((aRan, bRan, bareRan) == (0, 1, 0), "only qB's hook ran")
    assert(QueryCleanup.pending("qA") == 1 && QueryCleanup.pending("qB") == 0)
    QueryCleanup.drain() // legacy drain-all clears the rest
    assert((aRan, bRan, bareRan) == (1, 1, 1))
  }

  test("scopes nest and restore on this thread") {
    var inner = 0; var outer = 0
    QueryCleanup.scoped("outer") {
      QueryCleanup.scoped("inner")(QueryCleanup.register(() => inner += 1))
      QueryCleanup.register(() => outer += 1)
    }
    QueryCleanup.drain("inner")
    assert(inner == 1 && outer == 0)
    QueryCleanup.drain("outer")
    assert(outer == 1)
  }

  test("a failing hook does not strand the rest of its scope") {
    var ran = false
    QueryCleanup.scoped("qF") {
      QueryCleanup.register(() => throw new RuntimeException("boom"))
      QueryCleanup.register(() => ran = true)
    }
    QueryCleanup.drain("qF")
    assert(ran, "second hook ran despite the first throwing")
  }

  test("Concurrent.both settles the other chain before rethrowing a failure") {
    val e = intercept[IllegalStateException] {
      QueryCleanup.scoped("qBoth") {
        util.Concurrent.both(
          throw new IllegalStateException("boom"),
          { Thread.sleep(300); QueryCleanup.register(() => ()); 1 })
      }
    }
    assert(e.getMessage == "boom")
    assert(QueryCleanup.pending("qBoth") == 1,
      "the slow chain's hook is registered by the time both throws")
    QueryCleanup.drain("qBoth")
  }

  // The actual round-11/12 failure shape: query A builds an incremental
  // view over a scratch SnapshotStore chain in several eager steps;
  // between A's steps the harness consumes-and-drains an unrelated query
  // B. Under the old GLOBAL drain, B's drain deleted A's scratch table
  // mid-sequence; the next commitAppend then started a FRESH chain and
  // the refresh silently no-opped — every group key still present (right
  // row count) but one batch's rows missing from the sums (wrong hash).
  // With scoped hooks the interleaved drain must not touch A at all.
  test("interleaved construction: B's drain cannot poison A's scratch chain") {
    val o = (1L to 90L).map(k => (k, s"s${k % 3}", s"p${k % 2}", k * 10L))
      .toDF("k", "status", "prio", "v")
    val keys = Seq("status", "prio")

    val out = QueryCleanup.scoped("qA") {
      val table = util.Scratch.dir(spark, "scope_t")
      val view = util.Scratch.dir(spark, "scope_v")
      SnapshotStore.commit(o.filter($"k" % 3 === 0), table, "b0")
      IncrementalView.build(spark, table, view, keys, Seq("v"))

      // harness consumes and drains unrelated query B between A's steps
      QueryCleanup.scoped("qB") {
        val bDir = util.Scratch.dir(spark, "scope_b")
        SnapshotStore.commit(o.limit(5), bDir, "b")
        assert(SnapshotStore.read(spark, bDir).count() == 5)
      }
      QueryCleanup.drain("qB")

      SnapshotStore.commitAppend(o.filter($"k" % 3 === 1), table, "b1")
      IncrementalView.refresh(spark, table, view, keys, Seq("v"))

      QueryCleanup.scoped("qB2") {
        val bDir = util.Scratch.dir(spark, "scope_b2")
        SnapshotStore.commit(o.limit(3), bDir, "b")
        assert(SnapshotStore.read(spark, bDir).count() == 3)
      }
      QueryCleanup.drain("qB2")

      SnapshotStore.commitAppend(o.filter($"k" % 3 === 2), table, "b2")
      IncrementalView.refresh(spark, table, view, keys, Seq("v"))
      IncrementalView.read(spark, view)
        .select($"status", $"prio", $"n_rows", $"sum_v")
    }

    val got = out.orderBy("status", "prio")
      .as[(String, String, Long, java.math.BigDecimal)].collect()
    QueryCleanup.drain("qA")

    val want = o.groupBy("status", "prio")
      .agg(count(lit(1)).as("n_rows"),
        sum($"v".cast("decimal(28,6)")).as("sum_v"))
      .orderBy("status", "prio")
      .as[(String, String, Long, java.math.BigDecimal)].collect()
    assert(got.length == 6 && got.toSeq == want.toSeq,
      "interleaved drains left the incremental view equal to a full recompute")
  }

  test("IncrementalView refuses to fabricate a delta after a chain reset") {
    val o = (1L to 20L).map(k => (k, s"g${k % 2}", k)).toDF("k", "g", "v")
    val table = util.Scratch.dir(spark, "reset_t")
    val view = util.Scratch.dir(spark, "reset_v")
    SnapshotStore.commit(o.filter($"k" <= 10), table)
    IncrementalView.build(spark, table, view, Seq("g"), Seq("v"))
    // full commit resets the chain: refresh must throw, not double-count
    SnapshotStore.commit(o, table)
    val e = intercept[Exception] {
      IncrementalView.refresh(spark, table, view, Seq("g"), Seq("v"))
    }
    assert(e.getMessage.contains("append chain"))
    QueryCleanup.drain()
  }
}
