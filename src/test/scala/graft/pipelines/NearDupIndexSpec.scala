package graft.pipelines

import graft.SparkSpec
import graft.ops.Dedup
import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._

class NearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = s"${tempDir(s"graft_ndidx_spec_$tag")}/index"

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "completely unrelated text about spark plans")).toDF("doc_id", "text")

  private val batch = Seq(
    (101L, "the quick brown fox jumps over the lazy dog"), // dup of 1, near 2
    (102L, "pack my box with five dozen liquor jugs today"), // near 3
    (103L, "nothing like anything stored before at all")).toDF("doc_id", "text")

  test("stored-index query equals the full crossNearDup recompute") {
    val dir = freshDir("equiv")
    NearDupIndex.update(spark, dir, corpus, "doc_id", "text", shingleN = 2)
    val viaIndex = NearDupIndex.query(spark, dir, batch, "doc_id", "text",
      shingleN = 2, threshold = 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    val recompute = Dedup.crossNearDup(corpus, batch, "doc_id", "text",
      shingleN = 2, threshold = 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(viaIndex == recompute, s"index=$viaIndex recompute=$recompute")
    assert(viaIndex.nonEmpty) // the fixture really exercises matches
  }

  test("incremental construction equals one-shot construction") {
    val inc = freshDir("inc")
    NearDupIndex.update(spark, inc, corpus.filter($"doc_id" <= 2), "doc_id", "text", 2)
    NearDupIndex.update(spark, inc, corpus.filter($"doc_id" > 2), "doc_id", "text", 2)
    val oneShot = freshDir("oneshot")
    NearDupIndex.update(spark, oneShot, corpus, "doc_id", "text", 2)
    val a = NearDupIndex.read(spark, inc).orderBy("id")
      .collect().toSeq
    val b = NearDupIndex.read(spark, oneShot).orderBy("id")
      .collect().toSeq
    assert(a == b, s"incremental=$a oneshot=$b")
  }

  test("ingest-twice replay is a no-op append") {
    val dir = freshDir("replay")
    val v1 = NearDupIndex.update(spark, dir, corpus, "doc_id", "text", 2,
      meta = "crawl-1")
    val rows1 = NearDupIndex.read(spark, dir).collect().toSet
    // At-least-once upstream delivery: the exact same batch arrives again.
    val v2 = NearDupIndex.update(spark, dir, corpus, "doc_id", "text", 2,
      meta = "crawl-1-replayed")
    val rows2 = NearDupIndex.read(spark, dir).collect().toSet
    assert(v2 == v1 + 1) // a new version is committed (audit trail)...
    assert(rows1 == rows2) // ...but the content is unchanged
    // and query results are identical before/after the replay
    val q = NearDupIndex.query(spark, dir, batch, "doc_id", "text", 2, 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    val qPrev = Dedup.crossNearDupIndexed(
      SnapshotStore.readVersion(spark, dir, v1), batch, "doc_id", "text", 2, 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(q == qPrev)
  }

  test("index rows carry bands and toks in one committed row") {
    val dir = freshDir("atomic")
    NearDupIndex.update(spark, dir, corpus, "doc_id", "text", 2)
    val idx = NearDupIndex.read(spark, dir)
    assert(idx.columns.sorted.toSeq == Seq("bands", "id", "toks"))
    val r = idx.filter($"id" === 1L)
      .select(size($"toks").as("nt"), size($"bands").as("nb"))
      .as[(Int, Int)].head()
    assert(r._1 > 0 && r._2 == Dedup.NumHashes / Dedup.BandRows, r.toString)
  }
}
