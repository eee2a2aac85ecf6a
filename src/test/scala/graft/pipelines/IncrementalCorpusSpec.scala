package graft.pipelines

import graft.SparkSpec
import graft.sources.SnapshotStore

class IncrementalCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val bench = Seq((900L, "alpha beta gamma delta epsilon zeta eta theta"))
    .toDF("doc_id", "text")

  test("ingest dedups against the committed corpus, decontaminates, and versions") {
    val table = s"${tempDir("graft_inc")}/table"
    // batch 1: 3 docs, one of which collides with the bench 8-gram
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"), // contaminated
      (3L, "pack my box with five dozen liquor jugs right now")
    ).toDF("doc_id", "text")
    val v1 = IncrementalCorpus.ingest(spark, table, b1, bench,
      "doc_id", "text", decontamN = 8, meta = "crawl-1")
    assert(v1 == 1L)
    val c1 = SnapshotStore.read(spark, table).select("doc_id").as[Long].collect().sorted
    assert(c1.sameElements(Array(1L, 3L)), s"got ${c1.toSeq}")

    // batch 2: repeats doc 1's CONTENT under a new id (dropped), an
    // in-batch duplicate pair (first id wins), and one genuinely new doc
    val b2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // corpus dup
      (11L, "how vexingly quick daft zebras jump in the fog"),
      (12L, "how vexingly quick daft zebras jump in the fog"),      // in-batch dup
      (13L, "sphinx of black quartz judge my vow this evening ok")
    ).toDF("doc_id", "text")
    val v2 = IncrementalCorpus.ingest(spark, table, b2, bench,
      "doc_id", "text", decontamN = 8, meta = "crawl-2")
    assert(v2 == 2L)
    val c2 = SnapshotStore.read(spark, table).select("doc_id").as[Long].collect().sorted
    assert(c2.sameElements(Array(1L, 3L, 11L, 13L)), s"got ${c2.toSeq}")

    // re-ingesting an already-absorbed batch is a no-op on content
    val v3 = IncrementalCorpus.ingest(spark, table, b2, bench,
      "doc_id", "text", decontamN = 8, meta = "crawl-2-replay")
    val c3 = SnapshotStore.read(spark, table).select("doc_id").as[Long].collect().sorted
    assert(v3 == 3L && c3.sameElements(c2), s"got ${c3.toSeq}")

    // the audit trail: time travel still shows the v1 corpus, and the
    // v1->v2 diff is exactly the two accepted docs
    assert(SnapshotStore.readVersion(spark, table, 1L).count() == 2L)
    val diff = SnapshotStore.diffVersions(spark, table, 1L, 2L,
        Seq("doc_id"), Seq("text"))
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(diff == Map(1L -> "same", 3L -> "same",
      11L -> "added", 13L -> "added"), diff.toString)
    assert(SnapshotStore.commitMeta(spark, table, 2L).contains("crawl-2"))
  }

  test("compactEvery bounds the append chain without changing the corpus") {
    val table = s"${tempDir("graft_inccmp")}/table"
    val mk = (id: Long) => Seq((id, s"unique document number $id with its own words " +
      s"padding ${id * 7} ${id * 13} ${id * 17}")).toDF("doc_id", "text")
    (1L to 5L).foreach { i =>
      IncrementalCorpus.ingest(spark, table, mk(i), bench, "doc_id", "text",
        decontamN = 8, meta = s"crawl-$i", compactEvery = 3)
      // chain never exceeds the bound: appends accumulate to 3, then the
      // compact resets it to 1 (read amplification stays O(compactEvery))
      assert(SnapshotStore.chainLength(spark, table) <= 3,
        s"chain ${SnapshotStore.chainLength(spark, table)} at ingest $i")
    }
    val ids = SnapshotStore.read(spark, table).select("doc_id")
      .as[Long].collect().sorted
    assert(ids.sameElements(Array(1L, 2L, 3L, 4L, 5L)), ids.toSeq.toString)
  }

  test("near-dup gate drops batch docs matching the STORED index, not a recompute") {
    val table = s"${tempDir("graft_incnd")}/table"
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight and then it ran far away home"),
      (3L, "pack my box with five dozen liquor jugs right now")
    ).toDF("doc_id", "text")
    val v1 = IncrementalCorpus.ingest(spark, table, b1, bench,
      "doc_id", "text", decontamN = 8, meta = "crawl-1",
      nearDupThreshold = Some(0.5))
    assert(v1 == 1L)
    // the index table was committed alongside the corpus
    val idxDir = IncrementalCorpus.nearDupIndexDir(table)
    assert(SnapshotStore.committedVersion(spark, idxDir).contains(1L))
    assert(NearDupIndex.read(spark, idxDir).count() == 2L)

    // batch 2: a NEAR-dup of doc 1 (last word changed -> bigram jaccard
    // 0.88, shares an LSH band; different content hash, so exact dedup
    // lets it through), and a genuinely new doc
    val b2 = Seq(
      (21L, "the quick brown fox jumps over the lazy dog tonight and then it ran far away barn"),
      (22L, "how vexingly quick daft zebras jump in the fog")
    ).toDF("doc_id", "text")
    val v2 = IncrementalCorpus.ingest(spark, table, b2, bench,
      "doc_id", "text", decontamN = 8, meta = "crawl-2",
      nearDupThreshold = Some(0.5))
    val c2 = SnapshotStore.read(spark, table).select("doc_id").as[Long].collect().sorted
    assert(v2 == 2L && c2.sameElements(Array(1L, 3L, 22L)), s"got ${c2.toSeq}")
    // index grew by exactly the accepted doc
    assert(NearDupIndex.read(spark, idxDir).count() == 3L)

    // crash-replay: re-ingesting batch 2 changes nothing — content dedup
    // drops 22, and 21 is still rejected against the stored index
    val v3 = IncrementalCorpus.ingest(spark, table, b2, bench,
      "doc_id", "text", decontamN = 8, meta = "crawl-2-replay",
      nearDupThreshold = Some(0.5))
    val c3 = SnapshotStore.read(spark, table).select("doc_id").as[Long].collect().sorted
    assert(v3 == 3L && c3.sameElements(c2), s"got ${c3.toSeq}")
    assert(NearDupIndex.read(spark, idxDir).count() == 3L)
  }

  test("replay after a crash between index commit and corpus commit converges") {
    val table = s"${tempDir("graft_inccrash")}/table"
    val idxDir = IncrementalCorpus.nearDupIndexDir(table)
    val b1 = Seq(
      (1L, "pack my box with five dozen liquor jugs right now"))
      .toDF("doc_id", "text")
    IncrementalCorpus.ingest(spark, table, b1, bench, "doc_id", "text",
      decontamN = 8, meta = "crawl-1", nearDupThreshold = Some(0.5))

    // batch 2 carries an INTERNAL near-dup pair (31, 32): the gate
    // filters only against earlier batches, so a clean run keeps BOTH
    val b2 = Seq(
      (31L, "the quick brown fox jumps over the lazy dog tonight and then it ran far away home"),
      (32L, "the quick brown fox jumps over the lazy dog tonight and then it ran far away barn"),
      (33L, "how vexingly quick daft zebras jump in the fog")
    ).toDF("doc_id", "text")
    // simulate the crash: ingest committed the index update but died
    // before the corpus commit
    NearDupIndex.update(spark, idxDir, b2, "doc_id", "text", 2, "crashed")
    assert(SnapshotStore.read(spark, table).count() == 1L) // corpus unmoved

    // replay must converge to the clean-run corpus: 31 and 32 reject
    // each other only if batch ids are treated as index partners
    IncrementalCorpus.ingest(spark, table, b2, bench, "doc_id", "text",
      decontamN = 8, meta = "crawl-2-replay", nearDupThreshold = Some(0.5))
    val c = SnapshotStore.read(spark, table).select("doc_id").as[Long].collect().sorted
    assert(c.sameElements(Array(1L, 31L, 32L, 33L)), s"got ${c.toSeq}")

    // and the converged state matches a clean (never-crashed) run bit
    // for bit on doc ids
    val table2 = s"${tempDir("graft_inccleanrun")}/table"
    IncrementalCorpus.ingest(spark, table2, b1, bench, "doc_id", "text",
      decontamN = 8, meta = "crawl-1", nearDupThreshold = Some(0.5))
    IncrementalCorpus.ingest(spark, table2, b2, bench, "doc_id", "text",
      decontamN = 8, meta = "crawl-2", nearDupThreshold = Some(0.5))
    val clean = SnapshotStore.read(spark, table2).select("doc_id").as[Long].collect().sorted
    assert(c.sameElements(clean), s"replay ${c.toSeq} vs clean ${clean.toSeq}")
  }
}
