package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.lit

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable() = s"${tempDir("graft_snapstore")}/table"

  test("commit publishes atomically; crash before the marker leaves the old version live") {
    val dir = tmpTable()
    val v1 = SnapshotStore.commit(Seq((1L, "one"), (2L, "two")).toDF("id", "p"), dir)
    assert(v1 == 1L)
    // simulate a crash between the data write and the marker rename:
    // a v-2 data dir exists but was never published
    Seq((1L, "CORRUPT")).toDF("id", "p")
      .write.parquet(new Path(dir, "v-0000000002").toString)
    assert(SnapshotStore.committedVersion(spark, dir).contains(1L))
    val live = SnapshotStore.read(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(live == Map(1L -> "one", 2L -> "two"), "old snapshot must stay readable")
    // the next commit reclaims the orphan dir by overwriting version 2
    val v2 = SnapshotStore.commit(Seq((1L, "one-v2")).toDF("id", "p"), dir)
    assert(v2 == 2L)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toMap ==
      Map(1L -> "one-v2"))
  }

  test("readVersion time-travels and diffVersions audits the refresh") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "p"), dir)
    SnapshotStore.commit(Seq((2L, "b"), (3L, "c2"), (9L, "new")).toDF("id", "p"), dir)
    assert(SnapshotStore.readVersion(spark, dir, 1L)
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    val diff = SnapshotStore.diffVersions(spark, dir, 1L, 2L, Seq("id"), Seq("p"))
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(diff == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 9L -> "added"))
    // reading an uncommitted version is an eager error, not an empty frame
    intercept[IllegalArgumentException] {
      SnapshotStore.readVersion(spark, dir, 7L)
    }
  }

  test("commit markers carry caller meta and reject double-publish of a version") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "p"), dir, meta = "batch=41")
    assert(SnapshotStore.commitMeta(spark, dir, 1L).contains("batch=41"))
    assert(SnapshotStore.commitMeta(spark, dir, 2L).isEmpty)
    // two committers race to version 2: the loser's publish (the exact
    // step commit() runs after its data write) fails loudly instead of
    // silently double-publishing
    SnapshotStore.publish(spark, dir, 2L, "batch=99")
    intercept[IllegalStateException] {
      SnapshotStore.publish(spark, dir, 2L, "batch=100")
    }
    assert(SnapshotStore.committedVersion(spark, dir).contains(2L))
    assert(SnapshotStore.commitMeta(spark, dir, 2L).contains("batch=99"),
      "the winner's meta must survive the losing publish")
  }

  test("commitAppend: O(delta) commits compose the logical union; time travel intact") {
    val dir = tmpTable()
    val v1 = SnapshotStore.commitAppend(Seq((1L, "a")).toDF("id", "p"), dir) // no parent: plain
    val v2 = SnapshotStore.commitAppend(Seq((2L, "b")).toDF("id", "p"), dir)
    val v3 = SnapshotStore.commitAppend(Seq((3L, "c")).toDF("id", "p"), dir)
    assert((v1, v2, v3) == ((1L, 2L, 3L)))
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // every historical version is still exactly its prefix
    assert(SnapshotStore.readVersion(spark, dir, 1L).count() == 1L)
    assert(SnapshotStore.readVersion(spark, dir, 2L).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the append wrote ONLY the delta: v-3's dir holds one row of data
    assert(spark.read.parquet(new Path(dir, "v-0000000003").toString).count() == 1L)
    // a full commit resets the chain (retrain/compaction semantics)
    SnapshotStore.commit(Seq((9L, "z")).toDF("id", "p"), dir)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
    // and appends continue from the reset content
    SnapshotStore.commitAppend(Seq((10L, "y")).toDF("id", "p"), dir)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((9L, "z"), (10L, "y")))
  }

  test("compact rewrites an append chain into one dir; vacuum then reclaims deltas") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "p"), dir)
    SnapshotStore.commitAppend(Seq((2L, "b")).toDF("id", "p"), dir)
    SnapshotStore.commitAppend(Seq((3L, "c")).toDF("id", "p"), dir)
    assert(SnapshotStore.chainLength(spark, dir) == 3)
    val cv = SnapshotStore.compact(spark, dir)
    assert(cv == 4L && SnapshotStore.chainLength(spark, dir) == 1)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // post-compact, no retained manifest pins the delta dirs: vacuum
    // reclaims all three and the compacted version still reads whole
    assert(SnapshotStore.vacuum(spark, dir, keepLast = 1) == Seq(1L, 2L, 3L))
    val f = new Path(dir, "v-0000000002")
    assert(!f.getFileSystem(spark.sessionState.newHadoopConf()).exists(f),
      "delta dir should be reclaimed once no manifest references it")
    assert(SnapshotStore.read(spark, dir).count() == 3L)
    // appends resume on the compacted base
    SnapshotStore.commitAppend(Seq((4L, "d")).toDF("id", "p"), dir)
    assert(SnapshotStore.read(spark, dir).count() == 4L)
    assert(SnapshotStore.chainLength(spark, dir) == 2)
  }

  test("commitAppend refuses schema drift — evolution goes through a full commit") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "p"), dir)
    val drifted = Seq((2L, "b", 0.5)).toDF("id", "p", "score")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.commitAppend(drifted, dir))
    assert(e.getMessage.contains("full commit"))
    // the documented evolution path: full commit rewrites with the new
    // schema, then appends in that schema flow again
    SnapshotStore.commit(
      SnapshotStore.read(spark, dir).withColumn("score", lit(0.0))
        .unionByName(drifted), dir)
    SnapshotStore.commitAppend(Seq((3L, "c", 1.5)).toDF("id", "p", "score"), dir)
    assert(SnapshotStore.read(spark, dir).count() == 3L)
  }

  test("append chain fingerprints identically to its compaction and a direct write") {
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      graft.ops.DataQuality.fingerprint(df, Seq("id", "p"))
        .select($"n", $"hsum".cast("string"), $"hxor")
        .as[(Long, String, Long)].head()
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), dir)
    SnapshotStore.commitAppend(Seq((3L, "c")).toDF("id", "p"), dir)
    SnapshotStore.commitAppend(Seq((4L, "d")).toDF("id", "p"), dir)
    val direct = fp(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "p"))
    assert(fp(SnapshotStore.read(spark, dir)) == direct,
      "chained read must fingerprint as the logical union")
    SnapshotStore.compact(spark, dir)
    assert(fp(SnapshotStore.read(spark, dir)) == direct,
      "compaction must preserve content bit-for-bit")
  }

  test("vacuum never deletes a data dir a retained append manifest still references") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "p"), dir)          // v1: base
    SnapshotStore.commitAppend(Seq((2L, "b")).toDF("id", "p"), dir)    // v2 -> refs v1
    SnapshotStore.commitAppend(Seq((3L, "c")).toDF("id", "p"), dir)    // v3 -> refs v1,v2
    val dropped = SnapshotStore.vacuum(spark, dir, keepLast = 1)
    assert(dropped == Seq(1L, 2L))
    // markers for v1/v2 are gone, but v3 still reads the FULL union
    // because its manifest pins their data dirs
    assert(SnapshotStore.commitMeta(spark, dir, 1L).isEmpty)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("vacuum reclaims delta dirs stranded by an earlier vacuum — no permanent leak") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "p"), dir)          // v1: base
    SnapshotStore.commitAppend(Seq((2L, "b")).toDF("id", "p"), dir)    // v2 -> refs v1
    SnapshotStore.commitAppend(Seq((3L, "c")).toDF("id", "p"), dir)    // v3 -> refs v1,v2
    SnapshotStore.compact(spark, dir)                                  // v4: chain reset
    // first vacuum: v1/v2 markers drop but their DATA stays (v3's
    // manifest still references it)
    SnapshotStore.vacuum(spark, dir, keepLast = 2)
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def dataDirs() = f.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("v-")).toSet
    assert(dataDirs() == Set("v-0000000001", "v-0000000002", "v-0000000003",
      "v-0000000004"))
    // second vacuum drops v3 — with a marker-only enumeration the v1/v2
    // dirs (marker already gone, reference now gone) would leak FOREVER;
    // the dir-level sweep reclaims them
    SnapshotStore.vacuum(spark, dir, keepLast = 1)
    assert(dataDirs() == Set("v-0000000004"),
      s"stranded delta dirs must be reclaimed, got ${dataDirs()}")
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a racing committer can never overwrite a PUBLISHED version's data") {
    val dir = tmpTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "p"), dir)
    SnapshotStore.commit(Seq((1L, "good")).toDF("id", "p"), dir)  // v2 published
    // a slow racer that computed v=2 before the winner published: its
    // staged write must FAIL without touching the winner's data (the old
    // mode-overwrite write clobbered v-2 in place before its marker
    // create failed)
    intercept[IllegalStateException] {
      SnapshotStore.stageAndRename(Seq((1L, "CORRUPT")).toDF("id", "p"),
        dir, 2L, manifest = None)
    }
    assert(SnapshotStore.readVersion(spark, dir, 2L)
      .as[(Long, String)].collect().toSeq == Seq((1L, "good")))
    // and no staging litter is left behind
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!f.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith(".tmp-")))
  }

  test("vacuum keeps the newest versions and drops markers+data for the rest") {
    val dir = tmpTable()
    (1 to 4).foreach(i => SnapshotStore.commit(Seq((i.toLong, s"v$i")).toDF("id", "p"), dir))
    val dropped = SnapshotStore.vacuum(spark, dir, keepLast = 2)
    assert(dropped == Seq(1L, 2L))
    assert(SnapshotStore.committedVersion(spark, dir).contains(4L))
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq((4L, "v4")))
    assert(SnapshotStore.commitMeta(spark, dir, 1L).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotStore.readVersion(spark, dir, 2L)
    }
    assert(SnapshotStore.readVersion(spark, dir, 3L).count() == 1L)
  }
}
