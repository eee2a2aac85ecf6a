package graft

import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the EXECUTED-plan shapes of the round-8 operators so a perf
  * regression (an extra exchange, a lost partial top-k, a join decaying
  * to a nested loop) fails the suite, not just the benchmark. Counts are
  * on operator OUTPUT plans over in-memory frames — the same shapes the
  * SURVEY §9 audit records for the full queries. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).length

  private def assertNoQuadratic(p: String): Unit = {
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(3).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(3).mkString("\n"))
  }

  private lazy val docs = (1L to 200L)
    .map(i => (i, s"token$i alpha beta gamma delta epsilon zeta eta theta iota kappa", i % 5))
    .toDF("doc_id", "text", "lang")

  private lazy val events = (1L to 300L).map { i =>
    (i, new java.sql.Timestamp(1700000000000L + i * 60000), i % 20,
      if (i % 3 == 0) "view" else if (i % 3 == 1) "click" else "purchase", i * 1.5)
  }.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("weightedSample is a single TakeOrderedAndProject — zero exchanges") {
    val p = plan(Sampling.weightedSample(
      docs.withColumn("w", length(col("text"))), "doc_id", "w", 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(exchanges(p) == 0, p)
  }

  test("funnelDepth chains all stage windows over ONE key exchange") {
    val p = plan(EventAnalytics.funnelDepth(events, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase")))
    assert(exchanges(p) == 1, p)
  }

  test("movingAggregate is one key exchange") {
    val p = plan(TimeSeries.movingAggregate(events, "user_id", "ts", "value", 600000000L))
    assert(exchanges(p) == 1, p)
  }

  test("snapshotMerge is one key exchange, no join") {
    val base = docs.withColumn("version", lit(1L))
    val ch = docs.limit(10).withColumn("version", lit(2L))
      .withColumn("deleted", lit(false))
    val p = plan(Cdc.snapshotMerge(base, ch, Seq("doc_id"), "version", "deleted"))
    assert(exchanges(p) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("tfIdfTopTerms: three data exchanges, rank-limit pushdown, no vocab join") {
    val p = plan(TextAnalysis.tfIdfTopTerms(docs, "doc_id", topK = 3))
    // 3 exchanges of the reduced (doc, term) table — (doc,term) agg, term
    // window, doc window — plus the 1-ROW corpus-count scalar aggregate's
    // SinglePartition exchange (trivially small, under the broadcast)
    assert(exchanges(p) == 4, p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("editDistancePairs and duplicateSpans never plan a quadratic join") {
    assertNoQuadratic(plan(Dedup.editDistancePairs(docs, "text")))
    assertNoQuadratic(plan(Dedup.duplicateSpans(docs, "doc_id", "text", n = 5)))
  }

  test("contaminatedIds (q77): one broadcast, no sort-merge join, one train scan") {
    // pins the plan the r8 bench bimodality investigation vouched for:
    // bench shingles broadcast; train is scanned exactly once and never
    // shuffled before the final distinct on the (small) flagged-id set
    val bench = docs.limit(10)
    val p = plan(Dedup.contaminatedIds(docs, bench, "doc_id", "text", n = 3))
    assert("BroadcastExchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assertNoQuadratic(p)
    // one scan of the train relation: `docs` is an in-memory
    // LocalTableScan; the bench limit(10) side reuses the same relation,
    // so exactly two LocalTableScans total — any third means train is
    // read twice
    assert("LocalTableScan".r.findAllIn(p).length == 2, p)
    // the only non-broadcast exchange is the final distinct over flagged
    // ids — a set bounded by the contaminated-doc count, not the corpus
    assert(exchanges(p) <= 2, p)
  }

  test("heavyHitters: candidate semi-join broadcasts, no vocabulary sort-merge join") {
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
    val p = plan(Sketches.heavyHitters(toks, "token", supportDen = 100, capacity = 128))
    graft.QueryCleanup.drain()
    // exact pass: candidates reach the token stream as a broadcast
    // left-semi hash join; the only non-broadcast exchanges are the
    // candidate distinct, the candidate-only count, and the 1-row total
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(exchanges(p) == 3, p)
  }

  test("pageRank: the edge table is cached pre-partitioned and never re-exchanged") {
    val edges = (0L until 400L).map(i => (i % 57, (i * 31) % 57)).toDF("src", "dst")
    val pr = Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 2)
    val p = plan(pr)
    graft.QueryCleanup.drain()
    assertNoQuadratic(p)
    // the (edges x outdeg) table is built behind exactly one
    // REPARTITION_BY_COL exchange inside its InMemoryRelation; every
    // iteration reads the cache (per-reference plan strings repeat the
    // construction subtree, so per-iteration work is pinned by the scan
    // marker, not a raw exchange count)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("REPARTITION_BY_COL"), p)
  }

  test("pageRank: the per-round edge join is shuffled-hash, not sort-merge " +
    "(r17 — SMJ re-sorted the cached edge table every round)") {
    val edges = (0L until 400L).map(i => (i % 57, (i * 31) % 57)).toDF("src", "dst")
    val pr = Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 2)
    val p = plan(pr)
    graft.QueryCleanup.drain()
    // the final (lazy) iteration's edge-cache join carries the
    // shuffle_hash hint — the plan must show ShuffledHashJoin; the
    // node-vs-node joins stay strategy-free for AQE
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("triangleCounts: canonical and oriented edges cached, no quadratic join") {
    val edges = (0L until 300L).map(i => (i % 40, (i * 17) % 40)).toDF("src", "dst")
    val p = plan(Graph.triangleCounts(edges, "src", "dst"))
    graft.QueryCleanup.drain()
    assertNoQuadratic(p)
    // both the canonical edge set and the oriented (u, w, dw) table are
    // InMemoryRelations — the wedge self-join and closing join read
    // caches, never the upstream subtree
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("REPARTITION_BY_COL"), p)
  }

  test("collocations: scalar totals broadcast, top-k is TakeOrderedAndProject") {
    val p = plan(TextAnalysis.collocations(docs, "text", minCount = 2, topK = 10))
    graft.QueryCleanup.drain()
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("phraseMatch: ONE corpus pass — one dictionary broadcast, one match-sized distinct exchange") {
    val p = plan(TextAnalysis.phraseMatch(docs, "doc_id", "text",
      Seq("alpha beta", "beta gamma", "gamma delta epsilon")))
    assertNoQuadratic(p)
    assert(!p.contains("SortMergeJoin"), p)
    // r16: all phrase lengths fuse into one scan + one broadcast hash
    // join (an n-token shingle can only equal an n-token phrase, so the
    // whole dictionary joins the concatenated per-length shingle arrays)
    assert("BroadcastExchange".r.findAllIn(p).length == 1, p)
    assert("Generate explode".r.findAllIn(p).length == 1, p) // one corpus pass
    assert(exchanges(p) == 1, p)
  }

  test("mixtureRebalance: quota join broadcasts; one data exchange for the domain window") {
    val d = docs.select(col("doc_id"), concat(lit("l"), col("lang")).as("dom"))
    val p = plan(Sampling.mixtureRebalance(d, "dom", "doc_id",
      Map("l0" -> 200, "l1" -> 200, "l2" -> 200, "l3" -> 200, "l4" -> 200)))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // 3 exchanges total: the domain-count agg + the 1-row min agg on the
    // quota branch (|domains|-sized), and ONE window exchange on the data
    assert(exchanges(p) == 3, p)
  }

  test("round-9 third-wave ops never plan a quadratic join") {
    assertNoQuadratic(plan(Skyline.skyline2d(
      docs.withColumn("x", col("doc_id") % 13).withColumn("y", col("doc_id") % 7),
      "x", "y", 2.0)))
    assertNoQuadratic(plan(Dedup.sortedNeighborPairs(docs, "doc_id", "text", 3,
      substring(col("text"), 1, 2))))
    assertNoQuadratic(plan(Dedup.crossNearDup(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", 2, 0.3)))
  }

  test("scdType2 is one key exchange, no join") {
    val log = docs.select(col("doc_id"), lit(1L).as("version"), lit(false).as("deleted"))
    val p = plan(Cdc.scdType2(log, Seq("doc_id"), "version", "deleted"))
    assert(exchanges(p) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("throttleDedup chains its window steps over ONE key exchange") {
    val p = plan(TimeSeries.throttleDedup(events, Seq("user_id", "event_type"),
      "ts", 300L, "event_id"))
    assert(exchanges(p) == 1, p)
  }

  test("shardAssign and globalRowNumber: data exchanges only on their keys") {
    val p1 = plan(Sampling.shardAssign(docs.select("doc_id"), "doc_id", 8))
    assert(exchanges(p1) == 1, p1) // the shard-key exchange for the rank window
    val p2 = plan(Ranking.globalRowNumber(docs.select("doc_id"),
      Seq("doc_id"), col("doc_id") % 10, "rnk"))
    // bucket-key exchange for ranks + the metadata-scale offsets side
    // (its single-partition prefix sum); the join back is broadcast
    assert(p2.contains("BroadcastHashJoin"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
  }

  test("bloomSemiJoin: the bloom probe prunes BELOW the join's exchange, codegen'd") {
    // a Range source (not a LocalRelation) keeps the probe filter in the
    // physical plan — ConvertToLocalRelation would fold it over local
    // data at optimization time and hide the shape under test
    val probe = spark.range(1, 501).select($"id".as("k"), ($"id" * 2).as("payload"))
    val build = (1L to 500L by 7L).toDF("k0")
    // forceBloom: the regime gate would bypass a 100-key (broadcastable)
    // build — the gated plan shape is pinned in TimeSeriesDpSpec
    val p = plan(Skew.bloomSemiJoin(probe, build, "k", "k0", 100L,
      forceBloom = true))
    graft.QueryCleanup.drain()
    assertNoQuadratic(p)
    // the bloom probe must sit on the probe side BELOW any exchange the
    // semi join introduces: everything shuffled has already passed the
    // bloom (string order in the plan tree: the join prints first, the
    // probe-side Filter deeper). It is a native expression now — no
    // UDF( marker, nothing severing WholeStageCodegen on the scan.
    val joinAt = p.indexOf("Join")
    val filterAt = p.toLowerCase.indexOf("graftbloommightcontain")
    assert(joinAt >= 0 && filterAt > joinAt, p)
    assert(!p.contains("UDF("), "bloom probe must not be a Scala udf: " + p)
  }

  test("shuffleOrder: broadcast offsets, no sort-merge join, no data-wide global sort") {
    val p = plan(Sampling.shuffleOrder(docs.select("doc_id"), "doc_id", 32L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assertNoQuadratic(p)
  }

  test("phashNearDup: band join only, never all-pairs") {
    implicit val s = spark
    val media = (1L to 50L).map(i => (i, s"payload number $i".getBytes("UTF-8"), "image"))
      .toDF("doc_id", "payload", "media_type")
    assertNoQuadratic(plan(Multimodal.phashNearDup(media, 3)))
  }

  test("tokenDrift: totals broadcast back — no vocabulary-sized window, no cartesian") {
    val half = docs.filter($"doc_id" % 2 === 0)
    val other = docs.filter($"doc_id" % 2 === 1)
    val p = plan(TextAnalysis.tokenDrift(half, other, topK = 5))
    // 1-row totals come back as broadcast CROSS joins (bounded — the
    // documented scalar-broadcast pattern), so only CartesianProduct is
    // quadratic here; a `sum over ()` across the vocab would print a
    // Window node instead
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("hllGrowthCurve: one data-sized aggregation; curve windows run on registers") {
    val rows = (1 to 300).map(i => (s"d${i % 3}", (i % 97).toLong)).toDF("day", "user_id")
    val p = plan(Sketches.hllGrowthCurve(rows, "day", "user_id", b = 6))
    graft.QueryCleanup.drain()
    // the day×bucket densify grid is a bounded broadcast cross join, so
    // only CartesianProduct would be quadratic here
    assert(!p.contains("CartesianProduct"), p)
    // the raw input feeds exactly ONE scan: the register table is
    // persisted and its three consumers read the CACHE, not the data
    // (the cached plan's own lineage still prints a scan, which is why
    // this counts InMemoryTableScan consumers rather than raw scans)
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheReads >= 3, s"expected >=3 cache reads:\n$p")
  }

  test("bucketed-bucketed join and bucket-key agg run with ZERO shuffle exchange") {
    import graft.sources.BucketedTable
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1L to 500L).map(i => (i, s"s${i % 3}")).toDF("k", "status")
      val b = (1L to 1500L).map(i => (i % 500 + 1, i.toDouble)).toDF("k", "v")
      BucketedTable.write(a, "psp_bkt_a", "k", 4)
      BucketedTable.write(b, "psp_bkt_b", "k", 4)
      val joined = BucketedTable.read(spark, "psp_bkt_a")
        .join(BucketedTable.read(spark, "psp_bkt_b"), "k")
      val pj = plan(joined)
      assert(exchanges(pj) == 0,
        s"bucketed join must not shuffle either side:\n$pj")
      // per-bucket-key aggregation is satisfied by the storage layout too
      val agg = BucketedTable.read(spark, "psp_bkt_b")
        .groupBy($"k").agg(count(lit(1)).as("n"))
      val pa = plan(agg)
      assert(exchanges(pa) == 0,
        s"bucket-key agg must not shuffle:\n$pa")
      // and the layout never changes RESULTS: join row count matches raw
      assert(joined.count() == 1500L)
      // while a RAW parquet read of the same data would shuffle both sides
      val raw = a.join(b, "k")
      assert(exchanges(plan(raw)) > 0, "control: non-bucketed join shuffles")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      BucketedTable.drop(spark, "psp_bkt_a")
      BucketedTable.drop(spark, "psp_bkt_b")
    }
  }

  test("spearman: rank cumsums run bucket-partitioned — no data-sized global window") {
    val df = (1 to 400).map(i => ((i * 37 % 997).toDouble, (i * 53 % 991).toDouble))
      .toDF("a", "b")
    val p = plan(DataQuality.spearman(df, "a", "b"))
    assert(!p.contains("CartesianProduct"), p)
    // both per-column rank passes must ride the rank-offset scheme:
    // value-ordered windows partitioned by the bucket, never bare
    assert(!p.contains("windowspecdefinition(__v"), p)
    assert(p.contains("windowspecdefinition(__psb"), p)
  }

  test("mutualInformation: cell-keyed joins, 1-row broadcasts, no cartesian") {
    val df = (1 to 400).map(i => (s"a${i % 3}", s"b${i % 5}")).toDF("x", "y")
    val p = plan(DataQuality.mutualInformation(df, "x", "y"))
    assert(!p.contains("CartesianProduct"), p)
    // contingency cells aggregate map-side; marginals join back hashed
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("scoreBlockedCapped: hot path is rank-band equi-joins — never a block product") {
    val a = (0 until 60).map(i => (i.toLong, f"n$i%03dx", "h")).toDF("id_a", "name_a", "blk")
    val b = (0 until 60).map(i => (1000L + i, f"n$i%03dy", "h")).toDF("id_b", "name_b", "blk")
    val f = Seq(RecordLinkage.Field("n",
      substring(col("name_a"), 1, 4) === substring(col("name_b"), 1, 4),
      m = 0.9, u = 0.01))
    val p = plan(RecordLinkage.scoreBlockedCapped(a, b, Seq("blk"), f,
      "id_a", "id_b", col("name_a"), col("name_b"), maxBlockPairs = 100L, w = 3))
    assertNoQuadratic(p)
    // the successor-rank fanout joins on (block, rank) — an equi hash
    // join; the hot-block routing tables broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ksTest: CDF cumsum runs bucket-partitioned — no data-sized global window") {
    val a = (1 to 400).map(i => (i * 37 % 997).toDouble).toDF("v")
    val b = (1 to 400).map(i => (i * 53 % 991).toDouble).toDF("v")
    val p = plan(DataQuality.ksTest(a, b, "v"))
    assert(!p.contains("CartesianProduct"), p)
    // a data-sized global cumsum would print a window spec ordered on
    // __v with NO partition column ("windowspecdefinition(__v ..."); in
    // the rank-offset shape every __v-ordered window is partitioned by
    // the bucket (__psb leads the spec) and the only unpartitioned
    // windows run over the 1024-row offset tables (ordered on __psb)
    assert(!p.contains("windowspecdefinition(__v"), p)
    assert(p.contains("windowspecdefinition(__psb"), p)
    // the SinglePartition exchanges are all metadata-scale: 1-row
    // bounds/totals/final aggregates and the two offset prefix sums
    val singleParts = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singleParts <= 8, s"$singleParts single-partition exchanges:\n$p")
  }

  test("kaplanMeier: all three curve windows share ONE group exchange, no join") {
    val subj = (1L to 300L)
      .map(i => (s"g${i % 3}", i % 25, (i % 2).toInt))
      .toDF("g", "t", "e")
    val p = plan(Survival.kaplanMeier(subj, "g", "t", "e"))
    assertNoQuadratic(p)
    assert(!p.contains("Join"), p)
    // (g,t) aggregation exchange + one g exchange feeding total/
    // cumulative-removed/ln-sum windows — not one exchange per window
    assert(exchanges(p) == 2, p)
    assert("windowspecdefinition\\(__g".r.findAllIn(p).size >= 3, p)
  }

  test("markovTransitions: pair counts combine map-side; norm window on states only") {
    val p = plan(EventAnalytics.markovTransitions(events, "user_id", "ts",
      "event_type", "event_id"))
    assertNoQuadratic(p)
    // user window + pair agg + |states|-sized normalizing window
    assert(exchanges(p) == 3, p)
    assert(p.contains("partial_count"), p) // pre-shuffle combine on pairs
  }

  test("cuped: theta rides a 1-row broadcast — no cartesian, no data-wide join") {
    val units = (1L to 200L)
      .map(i => (s"arm_${i % 2}", (i % 7).toDouble, (i % 11).toDouble))
      .toDF("arm", "x", "y")
    val p = plan(Experiment.cuped(units, "arm", "x", "y"))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row theta/mean broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert(p.contains("IdentityBroadcastMode"), p)
  }

  test("twoProportionZ: per-arm combine then metadata-scale single partition") {
    val units = (1L to 200L)
      .map(i => (s"arm_${i % 2}", (i % 3 == 0).compareTo(false).toLong))
      .toDF("arm", "s")
    val p = plan(Experiment.twoProportionZ(units, "arm", "s"))
    assertNoQuadratic(p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(exchanges(p) == 2, p) // arm hash + 2-row single partition
  }

  test("aucRoc: rank sums ride the bucket scheme — no data-sized score window") {
    val df = (1 to 400).map(i => (i % 3 == 0, (i * 37 % 97).toDouble))
      .toDF("y", "s")
    val p = plan(Evaluation.aucRoc(df, "y", "s"))
    assert(!p.contains("CartesianProduct"), p)
    // a bare ORDER BY score global window would print
    // windowspecdefinition(__v ...; the rank-offset shape partitions
    // every score-ordered window by the bucket
    assert(!p.contains("windowspecdefinition(__v"), p)
    assert(p.contains("windowspecdefinition(__psb"), p)
  }

  test("zipfSlope: top-K is a TakeOrderedAndProject, never a global sort") {
    val p = plan(TextAnalysis.zipfSlope(docs, "text", topK = 50))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p) // token counts combine map-side
  }

  test("rfmScores: quintiles ride prefix sums — no ntile, no global sort window") {
    val o = (1L to 300L).map { i =>
      (i % 40, new java.sql.Timestamp(1700000000000L + i * 86400000L), i * 2.5)
    }.toDF("c", "d", "amt")
    val p = plan(EventAnalytics.rfmScores(o, "c", "d", "amt"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ntile"), p)
    // r13 fold: ONE tagged prefix-sum pipeline serves all three metrics —
    // every metric-ordered window is (tag, bucket)-partitioned, and no
    // window orders the raw metric or melted value globally
    assert(p.contains("windowspecdefinition(__tag"), p)
    assert(!p.contains("windowspecdefinition(recency_days#"), p)
    assert(!p.contains("windowspecdefinition(__v#"), p)
  }

  test("sessionPaths: session windows share the user exchange; top-K via heaps") {
    val p = plan(EventAnalytics.sessionPaths(events, 30, 3, 10))
    assertNoQuadratic(p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // user window; the (user, session) window + path agg satisfy the
    // same user hash clustering; path counts add the one extra exchange
    assert(exchanges(p) <= 3, p)
  }

  test("ewmaAnomalies: one group exchange, pure window arithmetic, no join") {
    val series = (1 to 60).map(i => ("g", i.toLong, (i % 7).toLong))
      .toDF("g", "t", "x")
    val p = plan(TimeSeries.ewmaAnomalies(series, "g", "t", "x"))
    assert(!p.contains("Join"), p)
    assert(exchanges(p) == 1, p)
  }

  test("kmvPairwiseOverlap: one data pass, pair machinery on sketch-sized tables") {
    val rows = (1 to 500).map(i => (s"g${i % 6}", s"k${i % 97}")).toDF("g", "k")
    val p = plan(Sketches.kmvPairwiseOverlap(rows, "g", "k", k = 64))
    graft.QueryCleanup.drain()
    assert(!p.contains("CartesianProduct"), p)
    // the ga < gb pair fan-out is a nested-loop BY DESIGN — over the
    // |groups|-row distinct table, never the data; it appears once per
    // side branch (A-rows, B-rows), everything data-sized hash-aggregates
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    // the grouped sketch cuts map-side: WindowGroupLimit before the
    // group exchange, so a billion-key group ships <= k rows per
    // partition
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("poissonBootstrapCi: ONE kernel call per row feeds the combining agg, no join") {
    val df = (1 to 300).map(i => ("g", i.toLong, i.toDouble)).toDF("k", "id", "v")
    val p = plan(Experiment.poissonBootstrapCi(df, "k", "id", "v", b = 16))
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    // (group, b) combining agg + metadata-sized percentile agg
    assert(exchanges(p) == 2, p)
    // the B draws come from the compiled batch kernel (one call per row,
    // evaluated once by the Generate) — NOT B inlined md5 expression
    // trees: Catalyst's element_at(array(...)) simplification would
    // otherwise re-derive one digest chain per aggregate expression
    assert(p.toLowerCase.contains("graftpoissonweights") ||
      p.toLowerCase.contains("graft_poisson_weights"), p)
    assert(!p.contains("md5("), "no inlined md5 chains in the plan: " + p)
  }

  test("negativeSample: hash equi-joins only; the 1-row count is the sole BNLJ") {
    val pos = (1 to 80).map(i => (i.toLong % 20, i.toLong)).toDF("a", "item")
    val uni = (1L to 200L).toDF("item")
    val p = plan(Sampling.negativeSample(pos, "a", "item", uni, "item", k = 3))
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("LeftAnti"), p)
  }

  test("resampleInterpolate: both neighbor scans share ONE key window order") {
    val p = plan(TimeSeries.resampleInterpolate(events, "event_type", "ts",
      "value", 3600L))
    assert(!p.contains("CartesianProduct"), p)
    // wPast and wFut differ only in frame -> one Window operator pair
    // behind one (key) sort; the grid join is an equi join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("globalPrefixSum (q255): bucket-partitioned cumsum, broadcast offsets, no global window") {
    val d = docs.select(col("doc_id"), (col("doc_id") % 7).cast("double").as("q"),
        (col("doc_id") % 50 + 1).as("nt"))
      .withColumn("__negq", -col("q"))
    val p = plan(Ranking.globalPrefixSum(d, Seq("__negq", "doc_id"),
      bucketExpr = floor(col("__negq") * 20), valueCol = "nt",
      outCol = "cum"))
    assertNoQuadratic(p)
    // every data-sized window is partitioned by the bucket; the only
    // unpartitioned window is the bucket-count-sized offset prefix sum
    assert(!p.contains("windowspecdefinition(__negq"), p)
    assert(p.contains("windowspecdefinition(__psb"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("welchTTest (q260): ONE group aggregation exchange, no join") {
    val p = plan(DataQuality.welchTTest(
      events.withColumn("c", col("user_id") % 2 === 0),
      "event_type", "c", "value"))
    assertNoQuadratic(p)
    assert(!p.contains("Join"), p)
    assert(exchanges(p) == 1, s"${exchanges(p)} exchanges:\n$p")
  }

  test("rolling median (q257): one group-keyed exchange drives daily agg + frame windows") {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1)), 6).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val p = plan(daily.withColumn("__win", collect_list(col("y")).over(w))
      .filter(size(col("__win")) === 7))
    assertNoQuadratic(p)
    // agg on (type, day), window on (type): two key exchanges, no more
    assert(exchanges(p) <= 2, s"${exchanges(p)} exchanges:\n$p")
  }

  test("ngramNovelty (q258): inverted-index equi-joins only, never all-pairs") {
    val tk = col("__tk")
    val grams = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__tk"))
      .select(col("doc_id"),
        explode(when(size(tk) >= 8,
          array_distinct(transform(sequence(lit(1), size(tk) - 7),
            i => graft.functions.PortableHash.phash(
              concat_ws(" ", (0 until 8).map(o => element_at(tk, i + o)): _*)))))
          .otherwise(array().cast("array<long>"))).as("g"))
    val first = grams.groupBy("g").agg(min(col("doc_id")).as("__first"))
    val p = plan(grams.join(first, Seq("g")).groupBy("doc_id")
      .agg(count(lit(1)).as("n")))
    assertNoQuadratic(p)
  }

  test("minhashEstimateError (q261): band equi-joins only, never all-pairs") {
    val p = plan(Dedup.minhashEstimateError(docs, "doc_id", "text", 2, 0.3))
    assertNoQuadratic(p)
  }

  test("refPercentile (q264): bucket-partitioned cumsum, no ref join, no global data window") {
    val ref = events.select(col("value").as("v"))
    val probe = events.select(col("event_id").as("k"), col("value").as("v"))
    val p = plan(DataQuality.refPercentile(ref, probe, "k", "v"))
    assertNoQuadratic(p)
    // every data-sized window is bucket-partitioned; only the 1024-row
    // offset table runs unpartitioned
    assert(!p.contains("windowspecdefinition(__v"), p)
    assert(p.contains("windowspecdefinition(__psb"), p)
  }

  test("labelPropagation (q290): the edge table is cached pre-partitioned on the join key") {
    val und = (0L until 400L).map(i => (i % 57, (i * 31) % 57 + 60L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val p = plan(Graph.labelPropagation(edges, "src", "dst", rounds = 2))
    graft.QueryCleanup.drain()
    assertNoQuadratic(p)
    // the r14 fix: edges shuffle onto dst ONCE into the cache; each
    // round's label join reads the InMemoryRelation — only the
    // node-sized label table moves per round
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("REPARTITION_BY_COL"), p)
  }

  test("personalizedPageRank (q317): same cached-topology contract as pageRank") {
    val edges = (0L until 400L).map(i => (i % 57, (i * 31) % 57)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    val p = plan(Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      iterations = 2))
    graft.QueryCleanup.drain()
    assertNoQuadratic(p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("REPARTITION_BY_COL"), p)
  }

  test("knnBruteForce / knnHamming: the QUERY side broadcasts (intended BNLJ), corpus scans once") {
    val vecs = (0L until 100L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat - 5f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 4)
    // qid =!= vec_id is a non-equi predicate, so the INTENDED plan is a
    // BroadcastNestedLoopJoin with the bounded query set broadcast — one
    // corpus pass per query batch, never a shuffle of the corpus and
    // never a CartesianProduct (which would mean the broadcast was lost)
    val pb = plan(Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 3))
    assert(pb.contains("BroadcastNestedLoopJoin") &&
      !pb.contains("SortMergeJoin") && !pb.contains("CartesianProduct"), pb)
    val ph = plan(Similarity.knnHamming(vecs, q, "vec_id", "embedding", dim = 8, k = 3))
    assert(ph.contains("BroadcastNestedLoopJoin") &&
      !ph.contains("SortMergeJoin") && !ph.contains("CartesianProduct"), ph)
  }

  test("pageRankEdgeWeighted / personalizedPageRankWeighted (q320/q323): cached-topology contract") {
    val edges = (0L until 400L).map(i => (i % 57, (i * 31) % 57)).toDF("src", "dst")
    val weighted = edges.withColumn("w", (col("src") % 3 + 1).cast("long"))
    val pw = plan(Graph.pageRankEdgeWeighted(weighted, "src", "dst", "w",
      iterations = 2))
    graft.QueryCleanup.drain()
    assertNoQuadratic(pw)
    // the weight-annotated edge table shuffles once into the cache;
    // each round's rank join reads the InMemoryRelation
    assert(pw.contains("InMemoryTableScan"), pw)
    assert(pw.contains("REPARTITION_BY_COL"), pw)
    val seeds = Seq((1L, 3L), (2L, 1L)).toDF("node", "w")
    val ps = plan(Graph.personalizedPageRankWeighted(edges, "src", "dst",
      seeds, "node", "w", iterations = 2))
    graft.QueryCleanup.drain()
    assertNoQuadratic(ps)
    assert(ps.contains("InMemoryTableScan"), ps)
    assert(ps.contains("REPARTITION_BY_COL"), ps)
  }

  test("neighborhoodFeatures (q326): node-keyed joins only, never all-pairs") {
    val und = (0L until 400L).map(i => (i % 57, (i * 31) % 57 + 60L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val p = plan(Graph.neighborhoodFeatures(edges, "src", "dst"))
    graft.QueryCleanup.drain()
    assertNoQuadratic(p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("rankFidelityAudit (q328): no unpartitioned data-sized window in ops/Graph") {
    val exact = (1L to 500L).map(i => (i, i * 1000L)).toDF("node", "rank")
    val approx = (1L to 500L).map(i => (i, (i * 37 % 500) * 1000L))
      .toDF("node", "rank")
    // force the large-table path (smallRankThreshold = 0) — production
    // inputs over the threshold must never see an unbounded
    // single-partition sort
    val p = plan(Graph.rankFidelityAudit(exact, approx, "node", "rank", k = 50,
      smallRankThreshold = 0L))
    // the r15 form ranked both sides with row_number() OVER (ORDER BY
    // __s DESC, node) — a single-partition sort of the whole node
    // table and the last data-sized unpartitioned window in a flagship
    // family. The rank-offset form windows only inside score buckets:
    // a data-sized window would print a spec leading with the order
    // key (__negs); every in-bucket window leads with the bucket
    // (__rkb) and the only unpartitioned windows run over the
    // <=1024-row offset tables.
    assert(!p.contains("windowspecdefinition(__negs"), p)
    assert(!p.contains("windowspecdefinition(__s"), p)
    assert(p.contains("windowspecdefinition(__rkb"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are 1-row bounds-probe broadcasts
    // feeding the bucket width: one per side, replayed once more in
    // each side's offsets branch (2 sides x 2 consumers)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4, p)
    // under the threshold the size-aware switch takes the bounded
    // single-window fast path instead (<= 2e6 skinny rows by contract)
    val pSmall = plan(Graph.rankFidelityAudit(exact, approx, "node", "rank",
      k = 50))
    assert(pSmall.contains("windowspecdefinition(__negs"), pSmall)
    assert(!pSmall.contains("windowspecdefinition(__rkb"), pSmall)
    // both paths agree row for row — the switch is strategy, not
    // semantics
    val big = Graph.rankFidelityAudit(exact, approx, "node", "rank", k = 50,
      smallRankThreshold = 0L).collect().toSeq
    val small = Graph.rankFidelityAudit(exact, approx, "node", "rank", k = 50)
      .collect().toSeq
    assert(big == small, s"$big vs $small")
  }

  test("rankFidelityAudit rejects fractional score columns instead of truncating") {
    val frac = Seq((1L, 1.5), (2L, 1.4)).toDF("node", "rank")
    val ex = intercept[IllegalArgumentException] {
      Graph.rankFidelityAudit(frac, frac, "node", "rank")
    }
    assert(ex.getMessage.contains("integral"), ex.getMessage)
  }

  test("q26 t-closeness filter: orders read once, at most 3 exchanges") {
    // the class table materializes as a truncated leaf while the query is
    // built, so the returned plan reads orders once (the semi-join probe)
    // beside that leaf
    val dir = tempDir("graft-q26-plan")
    // 15 classes of 20 rows, each spread evenly over the 4 price buckets;
    // a 3-row class all in the lowest bucket (fails t) and a 2-row class
    // (fails k = 3)
    val price = Seq(10000.0, 100000.0, 200000.0, 350000.0)
    val even = (0L until 300L).map(i => (i, Seq("F", "O", "P")((i % 3).toInt),
      s"${i % 5 + 1}-PRIORITY", price(((i / 15) % 4).toInt)))
    val skewed = (300L until 303L).map(i => (i, "X", "1-PRIORITY", price.head))
    val small = (303L until 305L).map(i => (i, "Y", "1-PRIORITY", price.head))
    (even ++ skewed ++ small)
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val q26 = SparkEntry.queries("q26_tcloseness_filter")(spark, dir)
    val p = plan(q26)
    assert(q26.count() == 300L)
    graft.QueryCleanup.drain()
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
    assert(exchanges(p) <= 3, s"${exchanges(p)} exchanges:\n$p")
    assertNoQuadratic(p)
  }
}
