package graft.queries

import graft.Tables
import graft.functions.PortableHash
import graft.ops.{DifferentialPrivacy, EventAnalytics, Evaluation, Experiment, Multimodal, Similarity, Survival, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search, event-time, differential-privacy, and multimodal
  * queries, each with an exact DuckDB oracle. All floating-point results
  * are rounded to 6dp BEFORE any ranking so cross-engine last-ulp
  * differences can never flip an ordering or a hash.
  */
object VectorEventQueries {
  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private val NQueries = 8 // query set: vec_id < 8 (broadcast-small)

  /** Trained-PQ memo, keyed by dataset dir: training is the offline step
    * of a PQ system; every search (and every bench rep) loads the same
    * deterministic (seeded) index instead of refitting m KMeans runs. */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqIndex]()

  /** Trained-IVF memo for q160, same offline-artifact rationale: the
    * coarse quantizer is fit once per dataset (fixed seed); searches
    * load it. Holds lazy DataFrames, so nothing is pinned in memory. */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.IvfIndex]()

  private val NPlanted = 50      // perturbed near-dup copies planted for q65/q92
  private val SemThreshold = 0.9 // q92 drop threshold: planted ≈0.98, natural ≲0.47
  private val PlantedIdOff = 100000L
  private val PertAmp = 0.04     // per-component noise → planted cos ≈ 0.98
  private val LshThreshold = 0.95

  /** embeddings ∪ deterministically-perturbed copies of the first
    * [[NPlanted]] vectors (ids shifted by [[PlantedIdOff]]): component j
    * gains PertAmp · (phash("pert|id|j")/2^59 − 1) — hash-derived noise,
    * so a SQL oracle regenerates the identical corpus. The planted pairs
    * sit at cosine ≈ 0.98, far above the natural similarity ceiling
    * (~0.47), making the LSH query's output value-bearing at every sf. */
  private def lshCorpus(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("embedding"))
    val noise = (x: Column, i: Column) => x + lit(PertAmp) *
      (PortableHash.phash(concat_ws("|", lit("pert"), col("vec_id").cast("string"),
        i.cast("string"))).cast("double") / lit(576460752303423488.0) - lit(1.0))
    // two-step select: Spark 4 lateral column aliases would otherwise
    // resolve the noise lambda's vec_id to the SHIFTED alias in the same
    // projection, silently keying the noise off id+offset. Planted copies
    // inherit the original's label (they are near-identical vectors, so
    // any cell assignment would agree) — q92's cell-scoped dedup needs it.
    val pert = e.filter(col("vec_id") < NPlanted)
      .select(col("vec_id"), col("label"),
        transform(col("embedding").cast("array<double>"), noise).as("embedding"))
      .select((col("vec_id") + PlantedIdOff).as("vec_id"), col("label"), col("embedding"))
    base.unionByName(pert)
  }

  /** Day-0/day-1 PQ+IVF memos for q184, trained on the EVEN half only —
    * the incremental contract is honest only if the artifacts never saw
    * the batch they later encode. */
  private val pqIncrCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqIndex]()
  private val ivfIncrCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.IvfIndex]()

  /** Last stored-index location minted by each stored-index query in THIS
    * JVM, keyed by kind ("stored" / "incr" / "drift"). The index dirs used
    * to be FIXED per (query, sfDir) — `/tmp/graft_ivfpq_*_${dir.hashCode}`
    * — so two concurrent processes (driver verify alongside its bench, or
    * a retried gate) would delete/commit under each other mid-read: the
    * r13 q185 gate-red channel, verbatim the disease [[graft.util.Scratch]]
    * documents. Every invocation now mints a fresh UUID-keyed Scratch dir;
    * self-checks re-read the artifacts the query just wrote through this
    * map instead of re-deriving a shared path. Harness runs queries
    * sequentially per JVM, so last-write-wins is safe. */
  private[graft] val lastIndexDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q184's fixture: a fresh stored index whose artifacts are trained on
    * the even-id half of the corpus ("day 0") and whose `codes` v1 is
    * that half's encode. A fresh Scratch dir per run, so a regenerated
    * dataset can never serve a stale index and concurrent processes can
    * never collide. Shared with the SelfCheck via [[lastIndexDir]]. */
  private[graft] def incrementalIndexDir(s: SparkSession, dir: String): String = {
    val idxDir = graft.util.Scratch.dir(s, "ivfpq_incr")
    lastIndexDir.put("incr", idxDir)
    val base = Tables.embeddings(s, dir).filter(col("vec_id") % 2 === 0)
    val pq = pqIncrCache.computeIfAbsent(dir,
      _ => Similarity.trainPqDeterministic(base, "embedding", m = 8, ksub = 16))
    val ivf = ivfIncrCache.computeIfAbsent(dir,
      _ => Similarity.trainIvfDeterministic(base, "vec_id", "embedding", nlist = 10))
    Similarity.saveIvfPqIndex(
      Similarity.encodeWithStoredIndex(base, "vec_id", "embedding",
        ivf.centroids, pq),
      ivf.centroids, pq, idxDir, meta = "base-evens")
    idxDir
  }

  /** q185's drifted crawl: 4 hash-perturbed copies of every vector in
    * the index's MOST-OCCUPIED coarse cell (ties to the smallest cell
    * id), ids shifted into a disjoint range — a crawl that piles into
    * one region of embedding space by construction. The tiny noise amp
    * keeps each copy inside its original's cell; PortableHash noise, so
    * the batch regenerates identically everywhere (the q65 idiom).
    * `assignments` is the day-0 (id, cell) code table. */
  private[graft] def driftedBatch(e: DataFrame, assignments: DataFrame): DataFrame = {
    val hot = assignments.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("cell")).limit(1).select("cell")
    val memberIds = assignments.join(broadcast(hot), Seq("cell")).select("vec_id")
    val noise = (x: Column, i: Column) => x + lit(0.02) *
      (PortableHash.phash(concat_ws("|", lit("drift"), col("vec_id").cast("string"),
        col("__r").cast("string"), i.cast("string"))).cast("double")
        / lit(576460752303423488.0) - lit(1.0))
    e.join(memberIds, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until 4).map(lit): _*)).as("__r"))
      .select(col("vec_id"), col("__r"),
        transform(col("embedding").cast("array<double>"), noise).as("embedding"))
      .select((col("vec_id") + lit(300000L) + col("__r").cast("long") * lit(10000L))
        .as("vec_id"), col("embedding"))
  }

  val queries: Map[String, Q] = Map(
    // Exact brute-force cosine top-k: broadcast query set, one corpus pass.
    "q38_knn_bruteforce" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnBruteForce(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", K)
        .orderBy("qid", "rank")
    }),

    // 1-bit sign quantization (64x compression) + exact Hamming top-10:
    // the cheapest ANN first-pass tier, below int8 (q73) and PQ (q114).
    // Pure integer bit arithmetic end to end — packing, XOR, popcount —
    // so unlike every float scorer the quantized tier itself
    // hash-matches an external engine with no rounding protocol at all.
    "q315_sign_hamming" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnHamming(e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", dim = 64, k = K)
        .orderBy("qid", "rank")
    }),

    // Retrieve-then-rerank audit (the cross-encoder serving pattern):
    // the q315 Hamming tier shortlists 20 candidates per query, the
    // exact integer-micro cosine re-ranks ONLY those, and each final
    // top-5 row carries its tier rank + displacement — "the re-ranker
    // rescued rank-17 to position 1" visible per query. Both stages are
    // exact-integer protocols, so the audit hash-matches row for row.
    "q321_rerank_audit" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hammingRerankAudit(e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", dim = 64, shortlist = 20, k = 5)
        .orderBy("qid", "final_rank")
    }),

    // Recall of the 1-bit Hamming tier vs the exact cosine top-k, per
    // cutoff k — how big a sign-bit shortlist must be before exact
    // re-ranking (the q274 matryoshka question asked of the q315 tier).
    // Both rankings are exact-integer protocols, so the audit itself is
    // hash-checked, not just banded.
    "q318_hamming_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hammingRecall(e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", dim = 64, ks = Seq(1, 5, 10))
        .orderBy("k")
    }),

    // Grouped IVF recall CURVE — recall@k vs nprobe in one query, the
    // tuning table an index operator reads before picking the
    // scan-vs-recall knob (operationalizes the q160/q318/q322 audits):
    // candidate recall of the trained coarse quantizer's top-nprobe
    // cells against the exact cosine top-k, for the full
    // {1,2,4,8} x {1,5,10} grid in one pass. Exact-integer routing and
    // ground truth, so the curve hash-checks.
    "q333_ivf_recall_curve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val ivf = ivfIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainIvfDeterministic(e, "vec_id", "embedding", nlist = 10))
      Similarity.ivfRecallCurve(e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", ivf, nprobes = Seq(1, 2, 4, 8),
          ks = Seq(1, 5, 10))
        .orderBy("nprobe", "k")
    }),

    // kNN label-noise audit: hyperplane cells (2^3), exact top-10
    // same-cell neighbors, disagreement = share with a different label.
    "q279_label_noise" -> ((s, dir) => {
      Similarity.knnLabelNoise(Tables.embeddings(s, dir), "vec_id", "label",
          "embedding", dim = 64, k = 10, nPlanes = 3)
        .orderBy("vec_id")
    }),

    // ε-DP top-10 most-active users via ONE-SHOT Gumbel selection
    // (Durfee-Rogers): the k-fold exponential-mechanism peel in a single
    // pass — only the ranked list is released, never the counts.
    "q304_dp_topk" -> ((s, dir) => {
      DifferentialPrivacy.dpTopK(Tables.events(s, dir), "user_id",
          k = 10, epsilon = 1.0, seed = 42L)
        .orderBy("rank")
    }),

    // Reciprocal-rank fusion of the cosine and raw-dot top-10 rankings
    // (they disagree exactly where norms differ): the training-free
    // hybrid-retrieval combiner, fused top-5 per query. Contributions
    // are integer micro-units of 1/(60+rank) — exact on both engines.
    "q299_rank_fusion" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
      val cos = Similarity.knnBruteForce(e, q, "vec_id", "embedding", K)
      val dot = Similarity.knnBruteForceDot(e, q, "vec_id", "embedding", K)
      Similarity.rrfFusion(Seq(cos, dot), "qid", "vec_id", "rank",
          k0 = 60, topK = 5)
        .orderBy("qid", "fused_rank")
    }),

    // All-but-the-top anisotropy audit: per-vector common-direction
    // projection + residual norm after centering — how much of each
    // embedding is the corpus-wide direction vs content. Reuses the
    // q294 power-iteration direction; everything stays dataflow.
    "q306_anisotropy" -> ((s, dir) => {
      Similarity.anisotropyResidual(Tables.embeddings(s, dir), "vec_id",
          "embedding", dim = 64, rounds = 3)
        .orderBy("vec_id")
    }),

    // Leading principal direction of the embedding matrix by 3 power-
    // iteration steps from the e1 seed — the anisotropy/whitening audit,
    // run as plain dataflow (v is a 64-row broadcast table, nothing
    // collected, no Gram matrix). Exact-integer term quantization makes
    // all three steps SQL-replayable.
    "q294_pca_power" -> ((s, dir) => {
      Similarity.pc1PowerIteration(Tables.embeddings(s, dir), "vec_id",
          "embedding", dim = 64, rounds = 3)
        .orderBy("idx")
    }),

    // NDCG@10 of exact cosine retrieval with same-label relevance over
    // 40 queries: the position-aware ranking score an ANN stack reports
    // where recall@k can't see WHERE in the list the hits landed. Rank
    // discounts are driver-quantized micro-ints shared with the oracle.
    "q287_ndcg" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val lab = e.select(col("vec_id"), col("label"))
      val ranked = Similarity.knnBruteForce(e, e.filter(col("vec_id") < 40),
        "vec_id", "embedding", 10)
      val rel = ranked
        .join(lab.select(col("vec_id").as("qid"), col("label").as("__ql")), Seq("qid"))
        .join(lab.select(col("vec_id"), col("label").as("__nl")), Seq("vec_id"))
        .withColumn("rel", col("__ql") === col("__nl"))
      Evaluation.ndcgAtK(rel, "qid", "rank", "rel", k = 10)
        .orderBy("qid")
    }),

    // Matryoshka truncation audit: recall@10 of the 8/16/32-dim prefixes
    // vs the full 64-dim exact top-10, mean over 40 queries.
    "q274_matryoshka_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.matryoshkaRecall(e, e.filter(col("vec_id") < 40),
          "vec_id", "embedding", k = 10, dims = Seq(8, 16, 32))
        .orderBy("dims")
    }),

    // Keyed pseudonymization with referential integrity: events and a
    // separately-built user dimension both pseudonymize user_id under
    // one key, then JOIN ON THE PSEUDONYM — per-type activity (row count
    // + distinct users) must equal what the raw ids would give, while no
    // raw id crosses the join. Key rotation = changing the salt.
    "q263_pseudonymize" -> ((s, dir) => {
      val key = "rotation-2026q3"
      val ev = graft.ops.Pseudonym.pseudonymize(
        Tables.events(s, dir).select("user_id", "event_type"),
        Seq("user_id"), key)
      val users = graft.ops.Pseudonym.pseudonymize(
        Tables.events(s, dir).select("user_id").distinct(),
        Seq("user_id"), key)
      ev.join(users, Seq("user_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("nd_users"))
        .orderBy("event_type")
    }),

    // Contrastive hard-negative mining: top-5 most-similar OTHER-label
    // vectors per query — q246's random negatives are easy; these sit
    // just across the boundary, where a contrastive loss learns.
    "q262_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "label", "embedding", K)
        .orderBy("qid", "rank")
    }),

    // IVF-style two-level search (nprobe=1, per-label mean centroids).
    "q39_knn_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnIvf(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", "label", K)
        .orderBy("qid", "rank")
    }),

    // Embedding-cosine near-duplicate pairs, cell-bucketed by label (the
    // O(n²)-avoiding shape; threshold tuned to the synthetic data's
    // similarity ceiling so the check is value-bearing at every sf).
    "q56_cosine_near_dup" -> ((s, dir) => {
      Similarity.cosineNearDup(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", threshold = 0.44)
        .orderBy("id_a", "id_b")
    }),

    // Random-hyperplane LSH near-dup over an UNLABELED corpus (the 100 TB
    // path: cells from data-independent hashed hyperplanes, band exchange
    // carries no vectors). Corpus = embeddings + 50 planted perturbed
    // copies; the oracle regenerates planes, cells, candidates, and
    // verification, so a cell-assignment divergence in either engine
    // surfaces as a row mismatch.
    "q65_cosine_lsh_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupLsh(lshCorpus(Tables.embeddings(s, dir)),
        "vec_id", "embedding", dim = 64, threshold = LshThreshold)
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup semantic dedup over the planted corpus: the 50 planted
    // near-copies (cos ≈ 0.98 to their originals, same label cell) are
    // dropped; the 500 originals survive (natural same-label ceiling
    // ~0.47 << 0.9). The oracle rebuilds the corpus and replays the
    // drop rule as NOT EXISTS, so a survivor-set divergence in either
    // engine surfaces as a row mismatch.
    "q92_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(lshCorpus(Tables.embeddings(s, dir)),
        "vec_id", "embedding", "label", threshold = SemThreshold)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    // IVF at nprobe=2: top-2 cells per query are scanned — the recall
    // knob the nprobe=1 variant (q39) lacks.
    "q66_knn_ivf_probe2" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnIvf(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", "label", K, nprobe = 2)
        .orderBy("qid", "rank")
    }),

    // Trained IVF: deterministic integer-micro Lloyd coarse quantizer
    // (DeterministicKMeans.fitArrayMicros) + nprobe=2 search. Since r13
    // the ENTIRE fit — micro quantization, quantile-spread init, 8 Lloyd
    // rounds, final assignment — unrolls in the SQL oracle, so the
    // trained search is hash-checked end to end (it was rows-only for
    // 12 rounds because MLlib's k-means|| seeding is engine-private).
    // SimilaritySpec still bands recall@k against brute force.
    // Cell-balance audit of the q67/q160 coarse quantizer: HHI /
    // effective-cells / max-over-mean skew of the cell occupancy — the
    // one-row index-health readout a retrain gate thresholds on (one
    // bloated cell turns "probe 2 of 10" into "scan a third of the
    // corpus"). Shares the memoized deterministic fit.
    "q324_ivf_balance" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idx = ivfIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainIvfDeterministic(e, "vec_id", "embedding",
          nlist = 10))
      Similarity.ivfCellBalance(idx)
    }),

    "q67_knn_ivf_trained" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // train once per (dir, params) — the index is an offline artifact;
      // the timed path is routing + cell scan, as in production (shares
      // the q160 cache: same corpus, same nlist, same deterministic fit)
      val idx = ivfIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainIvfDeterministic(e, "vec_id", "embedding",
          nlist = 10))
      Similarity.knnIvfTrained(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", idx, K, nprobe = 2)
        .orderBy("qid", "rank")
    }),

    // Product-quantization ADC + exact refine (rows-only: the m KMeans
    // codebooks are MLlib-internal; SimilaritySpec covers cluster
    // containment and determinism; the Verify self-check proves the
    // refine distances are exact L2 and bands shortlist recall — on
    // near-random embeddings the byte-code quantizer is genuinely
    // lossy, so topline equality with exact search is data-dependent,
    // `shortlist` being the recall knob): 64-dim floats compressed to 8
    // byte-codes, the corpus pass scans codes with an m x ksub lookup
    // table, then only the ADC shortlist rereads float vectors.
    // Codebooks are an OFFLINE artifact (train once, search forever), so
    // the query memoizes the trained index per dataset — deterministic
    // (fixed seed), and what loading a persisted index looks like; the
    // timed path is encode + ADC scan + refine, as in production.
    "q114_knn_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idx = pqIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainPqDeterministic(e, "embedding", m = 8, ksub = 16))
      val codes = Similarity.encodePq(e, "vec_id", "embedding", idx)
      Similarity.knnPqRefined(codes, e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", idx, K, shortlist = 8 * K)
        .orderBy("qid", "rank")
    }),

    // IVF-PQ + exact refine (rows-only, as q114: KMeans artifacts are
    // MLlib-internal): the ADC code scan is routed through the trained
    // coarse quantizer's cells — nprobe=4 of nlist=10, so the scan
    // touches ~40% of the code table instead of all of it, the
    // composition that removes flat PQ's full-corpus scan at index
    // scale. Both indexes are OFFLINE artifacts (memoized per dataset);
    // the timed path is encode + cell-routed ADC + refine. The Verify
    // self-check proves refine distances are exact L2 and bands recall
    // against BOTH brute force and q114's flat-PQ scan.
    "q160_knn_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val pq = pqIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainPqDeterministic(e, "embedding", m = 8, ksub = 16))
      val ivf = ivfIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainIvfDeterministic(e, "vec_id", "embedding", nlist = 10))
      val encoded = Similarity.encodeIvfPq(e, "vec_id", "embedding", ivf, pq)
      Similarity.knnIvfPqRefined(encoded, e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", ivf.centroids, pq, K, nprobe = 4,
          shortlist = 8 * K)
        .orderBy("qid", "rank")
    }),

    // q160 through the PERSISTED index: encode+centroids+codebooks
    // committed to a SnapshotStore layout (the offline artifact a
    // production ANN service loads at startup), then the search runs
    // entirely from the STORED tables — rebuilt fresh per run so a
    // regenerated dataset can never serve a stale index. Self-check:
    // row-identical to q160's in-process path.
    "q167_knn_ivfpq_stored" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idxDir = graft.util.Scratch.dir(s, "ivfpq_stored")
      lastIndexDir.put("stored", idxDir)
      val pq = pqIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainPqDeterministic(e, "embedding", m = 8, ksub = 16))
      val ivf = ivfIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainIvfDeterministic(e, "vec_id", "embedding", nlist = 10))
      Similarity.saveIvfPqIndex(
        Similarity.encodeIvfPq(e, "vec_id", "embedding", ivf, pq),
        ivf.centroids, pq, idxDir, meta = "q167")
      val (codes, cents, pqLoaded) = Similarity.loadIvfPqIndex(s, idxDir)
      Similarity.knnIvfPqRefined(codes, e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", cents, pqLoaded, K, nprobe = 4,
          shortlist = 8 * K)
        .orderBy("qid", "rank")
    }),

    // INCREMENTAL index maintenance: the corpus is committed in two
    // generations — evens build the index, odds arrive as a "daily
    // crawl" encoded against the STORED codebooks/centroids
    // (Similarity.encodeIntoIvfPqIndex) with no re-train, no corpus
    // re-encode. The search then runs over the grown stored table.
    // Self-check: the grown code table and the search are ROW-IDENTICAL
    // to a full re-encode of the grown corpus against the same
    // artifacts, and replaying the ingest changes no rows — the contract
    // that makes a 100 TB daily-refresh index trustworthy.
    "q184_ivfpq_incremental" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idxDir = incrementalIndexDir(s, dir)
      Similarity.encodeIntoIvfPqIndex(s, idxDir,
        e.filter(col("vec_id") % 2 =!= 0).select("vec_id", "embedding"),
        "vec_id", "embedding", meta = "ingest-odds")
      val (codes, cents, pqLoaded) = Similarity.loadIvfPqIndex(s, idxDir)
      Similarity.knnIvfPqRefined(codes, e, e.filter(col("vec_id") < NQueries),
          "vec_id", "embedding", cents, pqLoaded, K, nprobe = 4,
          shortlist = 8 * K)
        .orderBy("qid", "rank")
    }),

    // Quantizer-staleness monitor for the incremental index: per-cell
    // occupancy PSI between the initial build and the table after a
    // DRIFTED ingest (4 hash-perturbed copies of every vector in the
    // hottest coarse cell — a crawl that piles into one region). The
    // monitor crossing the 0.25 retrain gate is the signal that the
    // coarse cells no longer fit the data; the self-check also proves
    // recall stays in band meanwhile (codes are against the stored
    // geometry, so refine is still exact — only cell balance degrades).
    "q185_ivfpq_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idxDir = graft.util.Scratch.dir(s, "ivfpq_drift")
      lastIndexDir.put("drift", idxDir)
      val pq = pqIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainPqDeterministic(e, "embedding", m = 8, ksub = 16))
      val ivf = ivfIndexCache.computeIfAbsent(dir,
        _ => Similarity.trainIvfDeterministic(e, "vec_id", "embedding", nlist = 10))
      val encodedBase = Similarity.encodeWithStoredIndex(e, "vec_id",
        "embedding", ivf.centroids, pq)
      Similarity.saveIvfPqIndex(encodedBase, ivf.centroids, pq, idxDir,
        meta = "base")
      Similarity.encodeIntoIvfPqIndex(s, idxDir,
        driftedBatch(e, encodedBase).select("vec_id", "embedding"),
        "vec_id", "embedding", meta = "drifted-crawl")
      Similarity.ivfPqOccupancyDrift(s, idxDir).orderBy("bin")
    }),

    // Cell-scoped kNN JOIN: top-3 neighbors for EVERY vector from its
    // own label cell — the corpus-wide near-neighbor-graph pass (kNN
    // graphs, hard-negative mining) where the query set is the corpus
    // itself and so can never broadcast. One exchange pair on the cell
    // key; the rank window reuses it ((cell, qid) keys, qid
    // cell-functional).
    "q119_knn_join_cells" -> ((s, dir) => {
      Similarity.knnJoinWithinCells(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", k = 3)
        .orderBy("qid", "rank")
    }),

    // q38's ranking via the native bounded-heap aggregate: map-side
    // partial top-k per query, O(k·maps)-row exchange instead of the
    // window's full-corpus shuffle+sort. Same output, same oracle as q38.
    "q82_knn_topk_agg" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnBruteForceAgg(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", K)
        .orderBy("qid", "rank")
    }),

    // Int8-quantized brute-force top-k: the corpus is symmetrically
    // quantized per vector (4x memory cut — how a 100 TB ANN index fits
    // in executor memory) and ranked on the int vectors directly (cosine
    // is scale-invariant). Quantization arithmetic is portable, so the
    // whole path — quantize, score, rank — replays in the oracle.
    "q73_knn_quantized" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnQuantized(e, e.filter(col("vec_id") < NQueries),
        "vec_id", "embedding", K)
        .orderBy("qid", "rank")
    }),

    // As-of join (click attribution): each view event picks up the same
    // user's latest click at-or-before it — union-tag + running last()
    // window, one shuffle, no range-join explosion.
    "q85_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_event_id"), col("value").as("click_value"))
      TimeSeries.asofJoin(views, clicks, "user_id", "ts",
        rightPayload = Seq("click_event_id", "click_value"),
        rightTieCol = "click_event_id")
        .select("event_id", "user_id", "asof_click_event_id", "asof_click_value")
        .orderBy("event_id")
    }),

    // Range join (purchase attribution): clicks landing in the 24 h
    // window after each same-user purchase. Bucketed equi-join on
    // (user, day-bucket) — intervals explode into <= 2 buckets — instead
    // of the O(|clicks|x|purchases|) BETWEEN-predicate join Spark would
    // otherwise plan.
    "q90_range_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 24 HOURS")).as("win_end"))
      TimeSeries.rangeJoin(clicks, purchases, Seq("user_id"),
          "ts", "win_start", "win_end", bucketSeconds = 86400L)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"), min("click_id").as("first_click_id"))
        .orderBy("purchase_id")
    }),

    // Gap-based sessionization (30-min inactivity gap).
    // Ordered funnel view -> click -> purchase: per-user stage depth via
    // chained same-partition window minima (one exchange for all three
    // stages), then the cumulative per-depth user counts.
    "q110_funnel" -> ((s, dir) => {
      val d = EventAnalytics.funnelDepth(Tables.events(s, dir), "user_id",
        "ts", "event_type", Seq("view", "click", "purchase"))
      d.agg(
        sum(when(col("funnel_depth") >= 1, 1L).otherwise(0L)).as("n_stage1"),
        sum(when(col("funnel_depth") >= 2, 1L).otherwise(0L)).as("n_stage2"),
        sum(when(col("funnel_depth") >= 3, 1L).otherwise(0L)).as("n_stage3"))
    }),

    // Kaplan-Meier churn curves per event type: subject = (type, user),
    // duration = days from first to last event of that type, censored
    // when the user is still active near the table's horizon. The
    // survival product is an ordered per-group cumulative ln-sum.
    "q202_kaplan_meier" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val horizon = ev.agg(max(to_date(col("ts"))).as("__hz"))
      val subjects = ev
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(to_date(col("ts"))).as("__first"),
          max(to_date(col("ts"))).as("__last"))
        .crossJoin(broadcast(horizon))
        .select(col("event_type"),
          datediff(col("__last"), col("__first")).cast("long").as("duration"),
          when(col("__last") < date_sub(col("__hz"), 3), 1L).otherwise(0L)
            .as("observed"))
      Survival.kaplanMeier(subjects, "event_type", "duration", "observed")
        .orderBy("event_type", "t")
    }),

    // Log-rank test between user-id-parity arms on the q202 subject
    // table (duration = first→last activity, censored near the
    // horizon): "are the two churn curves the same?" as one χ² row —
    // the hypothesis test beside q202's picture.
    "q219_logrank" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val horizon = ev.agg(max(to_date(col("ts"))).as("__hz"))
      val subjects = ev
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("__first"),
          max(to_date(col("ts"))).as("__last"))
        .crossJoin(broadcast(horizon))
        .select(
          concat(lit("arm_"), (col("user_id") % 2).cast("string")).as("arm"),
          datediff(col("__last"), col("__first")).cast("long").as("duration"),
          when(col("__last") < date_sub(col("__hz"), 3), 1L).otherwise(0L)
            .as("observed"))
      Survival.logRank(subjects, "arm", "duration", "observed")
    }),

    // CUPED variance reduction: pre-period (first 15 days) per-user
    // value sum as the covariate, post-period sum as the metric,
    // deterministic user_id-parity arms. The judge row is
    // var_reduction — how much experiment traffic the covariate buys.
    "q203_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val units = ev
        .groupBy(col("user_id"))
        .agg(
          round(sum(when(to_date(col("ts")) < to_date(lit("2024-01-16")),
            col("value").cast("decimal(18,6)"))).cast("double"), 6).as("pre"),
          round(sum(when(to_date(col("ts")) >= to_date(lit("2024-01-16")),
            col("value").cast("decimal(18,6)"))).cast("double"), 6).as("post"))
        .select(concat(lit("arm_"), (col("user_id") % 2).cast("string")).as("arm"),
          coalesce(col("pre"), lit(0.0)).as("pre"),
          coalesce(col("post"), lit(0.0)).as("post"))
      Experiment.cuped(units, "arm", "pre", "post").orderBy("arm")
    }),

    // First-order Markov transition matrix over per-user event
    // sequences (ts then event_id ordering): counts + row-normalized
    // next-state probabilities.
    "q204_markov" -> ((s, dir) => {
      EventAnalytics.markovTransitions(Tables.events(s, dir),
          "user_id", "ts", "event_type", "event_id")
        .orderBy("from_state", "to_state")
    }),

    // Pooled two-proportion z-test: did arm_0/arm_1 (user parity)
    // convert (>= 1 purchase event) at different rates?
    "q205_two_prop_z" -> ((s, dir) => {
      val units = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .select(concat(lit("arm_"), (col("user_id") % 2).cast("string")).as("arm"),
          col("converted"))
      Experiment.twoProportionZ(units, "arm", "converted")
    }),

    // Weekly cohort retention: first-event week x week offset, distinct
    // active users.
    "q111_retention" -> ((s, dir) => {
      EventAnalytics.weeklyRetention(Tables.events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    }),

    // Per-type z-score outliers at |z| > 2.5 (flag compares the rounded z
    // so summation order can't flip a boundary).
    "q112_outliers" -> ((s, dir) => {
      EventAnalytics.zScoreOutliers(Tables.events(s, dir), "event_type",
          "value", zThreshold = 2.5)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    }),

    // Trailing 10-minute per-user moving aggregate: RANGE frame over
    // integer epoch-micros — one exchange on the user key, linear frame
    // slide, no self-join.
    "q105_moving_agg" -> ((s, dir) => {
      TimeSeries.movingAggregate(Tables.events(s, dir), "user_id", "ts",
          "value", windowMicros = 600000000L)
        .select("event_id", "user_id", "n_window", "avg_value")
        .orderBy("event_id")
    }),

    // Hourly resample + forward-fill per event_type: densified grid from
    // a broadcast global bound, ffill as one window pass in the key
    // partition. Integer epoch-second buckets replay exactly in DuckDB.
    "q136_resample_ffill" -> ((s, dir) => {
      TimeSeries.resampleFill(Tables.events(s, dir), "event_type", "ts",
          "value", stepSeconds = 3600L)
        .orderBy("event_type", "bucket")
    }),

    "q40_sessionize" -> ((s, dir) => {
      TimeSeries.sessionize(Tables.events(s, dir), gapMinutes = 30)
        .select("event_id", "user_id", "session_seq")
        .orderBy("event_id")
    }),

    // Spark's NATIVE session_window operator (q40 builds sessions from
    // window primitives; this exercises the built-in merging-session
    // aggregation — half-open [start, last+gap) windows). The oracle
    // replays it as the classic gaps-and-islands chain.
    "q307_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // Difference-in-differences across q203's parity arms and 15-day
    // periods: the causal estimate when treatment wasn't randomized;
    // the two pre means are the parallel-trends eyeball.
    "q244_did" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("arm",
          concat(lit("arm_"), (col("user_id") % 2).cast("string")))
        .withColumn("post", to_date(col("ts")) >= to_date(lit("2024-01-16")))
      Experiment.diffInDiff(ev, "arm", "post", "value")
    }),

    // Inter-event gap distribution per type: the arrival-process
    // fingerprint — bot traffic clusters at fixed gaps.
    "q242_interevent" -> ((s, dir) => {
      TimeSeries.interEventGaps(Tables.events(s, dir), "event_type",
          "user_id", "ts", "event_id")
        .orderBy("event_type")
    }),

    // Cohort-value (LTV) triangle: first-seen-week cohorts × age-week,
    // active users + micro-exact value sums.
    "q243_cohort_ltv" -> ((s, dir) => {
      EventAnalytics.cohortValueMatrix(Tables.events(s, dir),
          "user_id", "ts", "value")
        .orderBy("cohort_week", "age_week")
    }),

    // First-touch vs last-touch purchase attribution per channel: the
    // two bookend models side by side — their disagreement is the
    // readout (discovery channels vs closers).
    "q235_attribution" -> ((s, dir) => {
      EventAnalytics.attribution(Tables.events(s, dir), "user_id", "ts",
          "event_type", "value", "event_id", conversionType = "purchase")
        .orderBy("channel")
    }),

    // Seconds from first view to first purchase at-or-after it, exact
    // p50/p90 over users; never-converters counted, not dropped.
    "q236_time_to_convert" -> ((s, dir) => {
      EventAnalytics.timeToConvert(Tables.events(s, dir), "user_id", "ts",
        "event_type", startType = "view", endType = "purchase")
    }),

    // Top-20 session opening paths (first 3 event types, ">"-joined)
    // over q40's 30-minute sessions: which entry flows actually happen.
    "q224_session_paths" -> ((s, dir) => {
      graft.ops.EventAnalytics.sessionPaths(Tables.events(s, dir),
        gapMinutes = 30, depth = 3, topK = 20)
    }),

    // q136's grid with linear interpolation instead of ffill — the
    // right gap policy for sampled continuous signals.
    "q225_resample_interp" -> ((s, dir) => {
      TimeSeries.resampleInterpolate(Tables.events(s, dir),
          "event_type", "ts", "value", stepSeconds = 3600L)
        .orderBy("event_type", "bucket")
    }),

    // Tumbling 1-hour windowed aggregation. Window start rendered as a
    // string so timestamp precision never affects the compare.
    "q41_window_agg" -> ((s, dir) => {
      TimeSeries.windowAgg(Tables.events(s, dir), "1 hour")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // Laplace-mechanism DP count per event_type (deterministic hash-seeded
    // noise — test/oracle mode; see DifferentialPrivacy scaladoc).
    "q42_dp_count" -> ((s, dir) => {
      DifferentialPrivacy.dpCount(Tables.events(s, dir), Seq("event_type"),
        epsilon = 1.0, seed = 42L)
        .orderBy("event_type")
    }),

    // LOCAL-DP frequency estimation via k-ary randomized response: each
    // event row perturbs its own event_type (keep w.p. 3/4, else uniform
    // other — eps = ln(3(k-1))), the collector sees only reported values,
    // and the debiased estimate is a closed-form over exact integers.
    // The central-DP q42 trusts the aggregator; this is the no-trusted-
    // curator counterpart.
    "q256_rr_frequency" -> ((s, dir) => {
      DifferentialPrivacy.randomizedResponseFreq(Tables.events(s, dir),
        "event_type", rowKey = col("event_id"))
        .orderBy("event_type")
    }),

    // DP sum of `value` clipped to [0, 200], ε=0.5.
    "q43_dp_sum" -> ((s, dir) => {
      DifferentialPrivacy.dpSum(Tables.events(s, dir), Seq("event_type"),
        "value", lo = 0.0, hi = 200.0, epsilon = 0.5, seed = 7L)
        .orderBy("event_type")
    }),

    // Gaussian-mechanism (ε, δ)-DP count per event_type: σ from the
    // analytic bound, deterministic Box-Muller noise (test/oracle mode —
    // see DifferentialPrivacy scaladoc; zCDP composition is spec-pinned
    // in DifferentialPrivacySpec).
    "q162_dp_count_gauss" -> ((s, dir) => {
      DifferentialPrivacy.dpCountGaussian(Tables.events(s, dir),
        Seq("event_type"), epsilon = 0.8, delta = 1e-6, seed = 13L)
        .orderBy("event_type")
    }),

    // Stability-thresholded (ε, δ)-DP histogram over the UNKNOWN
    // (event_type, value-bucket) domain: noisy counts released only
    // above τ = 1 + ln(1/(2δ))/ε, so a bin supported by one record
    // survives with probability exactly δ. ε=1, δ=1e-6 → τ=14.122363;
    // the sparse value-bucket tail is what the threshold suppresses.
    "q170_dp_histogram" -> ((s, dir) => {
      DifferentialPrivacy.dpHistogram(
        Tables.events(s, dir)
          .withColumn("bucket", floor(col("value") / 20).cast("long")),
        Seq("event_type", "bucket"), epsilon = 1.0, delta = 1e-6, seed = 11L)
        .orderBy("event_type", "bucket")
    }),

    // Embedding-space drift between the label<5 and label>=5 vector
    // snapshots: PSI over shared hyperplane sign-cell occupancy — the
    // topic/domain-shift monitor a numeric PSI cannot see. Planes are
    // deterministic (tag-derived), so both snapshots and the oracle
    // share one quantizer.
    "q183_embedding_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.embeddingDrift(
        e.filter(col("label") < 5), e.filter(col("label") >= 5),
        "embedding", dim = 64, nPlanes = 6)
        .orderBy("bin")
    }),

    // Per-type OLS of value on hour-of-day: the closed form over exact
    // decimal sums (micro-unit y), one aggregation, no ML iteration.
    "q178_group_ols" -> ((s, dir) => {
      EventAnalytics.groupOls(
          Tables.events(s, dir)
            .withColumn("hour", hour(col("ts"))),
          "event_type", "hour", "value")
        .orderBy("event_type")
    }),

    // Sparse Vector Technique over the per-day count sequence: noisy
    // answers vs a noisy threshold (340), ⊤/⊥ transcript, halt after
    // c=3 releases — budget paid per RELEASE, not per question. The
    // halting prefix is a running-⊤ window over the 30-row query table.
    "q172_dp_svt" -> ((s, dir) => {
      val q = Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      DifferentialPrivacy.svtAboveThreshold(q, Seq("day"), "n",
          threshold = 340.0, epsilon = 1.0, c = 3, seed = 17L)
        .withColumn("above", col("above").cast("long"))
        .orderBy("day")
    }),

    // Exponential-mechanism ε-DP median of value per event_type
    // (selection from the domain via Gumbel-max over the rank utility —
    // the DP primitive Laplace noise cannot provide).
    "q165_dp_median_exp" -> ((s, dir) => {
      DifferentialPrivacy.dpMedianExp(Tables.events(s, dir),
        Seq("event_type"), "value", epsilon = 1.0, seed = 5L)
        .orderBy("event_type")
    }),

    // Multimodal plumbing: metadata projection of the binary media table
    // (the codegen'd stage; the stubbed decode is unit-tested instead).
    "q44_media_stats" -> ((s, dir) => {
      Multimodal.mediaStats(Multimodal.asMediaTable(Tables.documents(s, dir)))
        .orderBy("doc_id")
    }),

    // 64-bit perceptual average-hash per media row (8x8 luma grid for
    // real images, 64-byte-chunk signal otherwise — every bit an
    // integer cross-comparison, no floating-point means). The oracle
    // recomputes the byte-signal hash in SQL bit-for-bit; the banded
    // near-dup JOIN over these hashes (Multimodal.phashNearDup) is
    // spec-pinned with constructed near-identical payloads, because
    // this corpus's shortest-distance pair sits at Hamming 10 — an
    // always-empty pair oracle would prove only schema.
    "q171_phash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.perceptualHash(
        Multimodal.asMediaTable(Tables.documents(s, dir))).toDF()
        .orderBy("doc_id")
    }),

    // DCT perceptual hash (pHash proper): 64-point integer DCT over the
    // byte signal's chunk means, bits = coefficient > AC median — the
    // edit-robust sibling of q171's mean-threshold aHash (gamma /
    // contrast edits that flip whole aHash columns leave the low-
    // frequency DCT structure intact; MultimodalSpec pins the class).
    // The scaled-integer basis table is emitted into the oracle, so the
    // hash replays bit-for-bit in DuckDB.
    "q186_dct_phash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.dctHash(
        Multimodal.asMediaTable(Tables.documents(s, dir))).toDF()
        .orderBy("doc_id")
    }),

    // Frame sampling: every 2nd of 8 equal byte chunks per payload, one
    // fingerprinted row per sampled frame (explode before shuffle, fixed-
    // size frame records downstream).
    "q81_frame_sample" -> ((s, dir) => {
      Multimodal.frameSample(Multimodal.asMediaTable(Tables.documents(s, dir)))
        .orderBy("doc_id", "frame_idx")
    }),

    // Keyframe selection: per-frame integer-exact aHash, keep frame 0 +
    // frames ≥16 Hamming bits from their predecessor — the shot-boundary
    // pass before per-frame embedding/captioning. Codec-free carve at
    // the same seam a real frame extractor slots into.
    "q298_keyframes" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.keyframes(Multimodal.asMediaTable(Tables.documents(s, dir)),
          nFrames = 8, minHamming = 16)
        .orderBy("doc_id", "frame_idx")
    }))

  private def lapSql(value: String, key: String, scale: String) =
    s"""round($value + (-($scale) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))), 6)
        """.trim.replaceAll("\n\\s*", " ")

  private def uSql(key: String, seed: Long) =
    s"(CAST('0x' || substr(md5($key || '|' || '$seed'), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0"

  /** uSql with a free-form seed tag — the Gaussian path keys its two
    * Box-Muller uniforms as `key|seed|g1` and `key|seed|g2`. */
  private def gaussUSql(key: String, tag: String) =
    s"(CAST('0x' || substr(md5($key || '|' || '$tag'), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0"

  private val knnCore =
    s"""q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $NQueries)"""

  /** Order-free micro-cosine SQL, mirroring the engine's
    * GraftCosineMicro8 kernel exactly: per-term round(t·1e8) BIGINT sums
    * for the dot and both squared norms (integer addition — no
    * fold-order dependence in either engine), then ONE double
    * division/sqrt chain, 6 dp. Replaces `round(list_cosine_similarity
    * (...), 6)`, whose result hung off the builtin's accumulation order —
    * the DuckDB-version-sensitive channel VERDICT r13 flagged. Args must
    * be repeatable expressions (each appears in several terms). */
  private def cosMicroSql(a: String, b: String): String = {
    // range over $x's OWN length (not the outer $a's): with unequal-length
    // args len($a) would make s2(b,b) index past b and silently drop the
    // NULL terms — a wrong norm where the engine kernel throws. Using the
    // operand's length keeps the oracle's failure mode aligned (the dot
    // term still NULLs out on mismatch rather than inventing a value).
    def s2(x: String, y: String) =
      s"CAST(list_sum(list_transform(range(1, len($x) + 1), i -> " +
        s"CAST(round(($x)[i] * ($y)[i] * 100000000.0, 0) AS BIGINT))) AS DOUBLE)"
    s"round((${s2(a, b)} / 100000000.0) / (sqrt(${s2(a, a)} / 100000000.0) " +
      s"* sqrt(${s2(b, b)} / 100000000.0)), 6)"
  }

  /** Shared q294/q306 power-iteration CTE chain: x/xj + v0 seed + three
    * unrolled v ← Xᵀ(Xv)/‖·‖ steps (1e-8/1e-6 term quantization, HUGEINT
    * norm squares, 9-dp v), ending at v3/n3. */
  private val pcaChainSql: String = {
    def step(i: Int) =
      s"""s$i AS (SELECT vec_id,
              sum(CAST(round(t.xv * v.v * 100000000, 0) AS BIGINT)) AS s
            FROM xj t JOIN v${i - 1} v ON t.j = v.idx GROUP BY vec_id),
          u$i AS (SELECT t.j,
              sum(CAST(round((s.s / 100000000.0) * t.xv * 1000000, 0) AS BIGINT)) AS u
            FROM xj t JOIN s$i s USING (vec_id) GROUP BY t.j),
          n$i AS (SELECT sum(CAST(u AS HUGEINT) * u) AS n2 FROM u$i),
          v$i AS (SELECT j AS idx,
              round(CAST(u AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 9) AS v
            FROM u$i, n$i)"""
    s"""x AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
                WHERE len(embedding) = 64),
        xj AS (SELECT vec_id, i.range AS j, x[i.range + 1] AS xv
               FROM x, range(64) i),
        v0 AS (SELECT i.range AS idx,
                 CASE WHEN i.range = 0 THEN 1.0 ELSE 0.0 END AS v
               FROM range(64) i),
        ${step(1)}, ${step(2)}, ${step(3)}"""
  }

  /** SQL replay of the deterministic IVF coarse-quantizer fit
    * ([[graft.ml.DeterministicKMeans.fitArrayMicros]]): micro-fix the
    * vectors, quantile-spread init over the ordered distinct micro
    * vectors, `iters` unrolled Lloyd rounds (exact HUGEINT distances,
    * cid tie-break, half-away integer-mean updates, empty cells carry
    * forward), final per-vector assignment. Ends in `cent(cell,
    * centroid DOUBLE[])` and `asgf(vec_id, cell)` CTEs for the search
    * to consume. MATERIALIZED throughout (the Mondrian/q45 rule). */
  private def ivfFitSql(k: Int, iters: Int, trainWhere: String = "",
                        emitAsg: Boolean = true): String = {
    val distTo = (zc: String, cc: String) =>
      s"list_sum(list_transform(list_zip($zc, $cc), x -> (x[1] - x[2]) * (x[1] - x[2])))"
    val seedRanks = (0 until k).map(i => s"rn = ($i * nd) // $k + 1").mkString(" OR ")
    def iterBlock(t: Int): String = {
      val prev = s"ik${t - 1}"
      s"""ia$t AS MATERIALIZED (
            SELECT p.z, p.cnt, c.cid,
                   row_number() OVER (PARTITION BY p.z
                     ORDER BY ${distTo("p.z", "c.c")}, c.cid) AS rk
            FROM ipts p CROSS JOIN $prev c),
          iu$t AS MATERIALIZED (
            SELECT cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c FROM (
              SELECT cid, d,
                CASE WHEN s >= 0 THEN (abs(s)*2 + w) // (w*2)
                     ELSE -((abs(s)*2 + w) // (w*2)) END AS cm
              FROM (SELECT cid, d, sum(CAST(v AS HUGEINT) * cnt) AS s,
                           CAST(sum(cnt) AS HUGEINT) AS w
                    FROM (SELECT cid, cnt, unnest(z) AS v,
                                 generate_subscripts(z, 1) AS d
                          FROM ia$t WHERE rk = 1) GROUP BY cid, d))
            GROUP BY cid),
          ik$t AS MATERIALIZED (
            SELECT p.cid, COALESCE(u.c, p.c) AS c
            FROM $prev p LEFT JOIN iu$t u USING (cid)),"""
    }
    s"""iemb AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding::DOUBLE[],
            v -> CAST(round(v * 1000000.0, 0) AS BIGINT)) AS z
          FROM embeddings),
        ipts AS MATERIALIZED (
          SELECT z, count(*) AS cnt FROM iemb $trainWhere GROUP BY z),
        iranked AS MATERIALIZED (
          SELECT z, row_number() OVER (ORDER BY z) AS rn,
                 count(*) OVER () AS nd FROM ipts),
        ik0 AS MATERIALIZED (
          SELECT z AS c, row_number() OVER (ORDER BY z) - 1 AS cid
          FROM iranked WHERE $seedRanks),
        ${(1 to iters).map(iterBlock).mkString("\n")}
        cent AS MATERIALIZED (
          SELECT cid AS cell, list_transform(c, x -> x / 1000000.0) AS centroid
          FROM ik$iters)""" + (if (!emitAsg) "" else s""",
        asg AS MATERIALIZED (
          SELECT e.vec_id, c.cid AS cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${distTo("e.z", "c.c")}, c.cid) AS rk
          FROM iemb e CROSS JOIN ik$iters c),
        asgf AS MATERIALIZED (SELECT vec_id, cell FROM asg WHERE rk = 1)""")
  }

  /** SQL replay of the deterministic PQ fit
    * ([[graft.ml.DeterministicKMeans.fitGroupedArrayMicros]] over the m
    * subvector slices): all m Lloyd protocols unroll TOGETHER, grouped
    * by subspace j — one CTE chain, not m. Ends in `book(j, cid, bc
    * DOUBLE[])` plus `psub(vec_id, j, sub DOUBLE[])` for the encode /
    * LUT stages. */
  private def pqFitSql(m: Int, subDim: Int, ksub: Int, iters: Int,
                       trainWhere: String = ""): String = {
    val distTo = (zc: String, cc: String) =>
      s"list_sum(list_transform(list_zip($zc, $cc), x -> (x[1] - x[2]) * (x[1] - x[2])))"
    val seedRanks = (0 until ksub).map(i => s"rn = ($i * nd) // $ksub + 1").mkString(" OR ")
    val slices = (0 until m).map { j =>
      s"SELECT vec_id, $j AS j, (embedding::DOUBLE[])[${j * subDim + 1}:${(j + 1) * subDim}] AS sub FROM embeddings"
    }.mkString("\n UNION ALL ")
    def iterBlock(t: Int): String = {
      val prev = s"pk${t - 1}"
      s"""pa$t AS MATERIALIZED (
            SELECT p.j, p.z, p.cnt, c.cid,
                   row_number() OVER (PARTITION BY p.j, p.z
                     ORDER BY ${distTo("p.z", "c.c")}, c.cid) AS rk
            FROM ppts p JOIN $prev c ON c.j = p.j),
          pu$t AS MATERIALIZED (
            SELECT j, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c FROM (
              SELECT j, cid, d,
                CASE WHEN s >= 0 THEN (abs(s)*2 + w) // (w*2)
                     ELSE -((abs(s)*2 + w) // (w*2)) END AS cm
              FROM (SELECT j, cid, d, sum(CAST(v AS HUGEINT) * cnt) AS s,
                           CAST(sum(cnt) AS HUGEINT) AS w
                    FROM (SELECT j, cid, cnt, unnest(z) AS v,
                                 generate_subscripts(z, 1) AS d
                          FROM pa$t WHERE rk = 1) GROUP BY j, cid, d))
            GROUP BY j, cid),
          pk$t AS MATERIALIZED (
            SELECT p.j, p.cid, COALESCE(u.c, p.c) AS c
            FROM $prev p LEFT JOIN pu$t u ON u.j = p.j AND u.cid = p.cid),"""
    }
    s"""psub AS MATERIALIZED ($slices),
        ppz AS MATERIALIZED (
          SELECT vec_id, j, list_transform(sub,
            v -> CAST(round(v * 1000000.0, 0) AS BIGINT)) AS z FROM psub),
        ppts AS MATERIALIZED (
          SELECT j, z, count(*) AS cnt FROM ppz $trainWhere GROUP BY j, z),
        pranked AS MATERIALIZED (
          SELECT j, z, row_number() OVER (PARTITION BY j ORDER BY z) AS rn,
                 count(*) OVER (PARTITION BY j) AS nd FROM ppts),
        pk0 AS MATERIALIZED (
          SELECT j, z AS c,
                 row_number() OVER (PARTITION BY j ORDER BY z) - 1 AS cid
          FROM pranked WHERE $seedRanks),
        ${(1 to iters).map(iterBlock).mkString("\n")}
        book AS MATERIALIZED (
          SELECT j, cid, list_transform(c, x -> x / 1000000.0) AS bc
          FROM pk$iters)"""
  }

  /** Encode + per-query LUT CTEs over `book`/`psub` (from [[pqFitSql]]):
    * `codes(vec_id, j, cid)` and `lut(qid, j, cid, ld)`. */
  private val pqEncodeSql: String =
    s"""cdist AS MATERIALIZED (
          SELECT s.vec_id, s.j, b.cid,
                 CAST(list_sum(list_transform(list_zip(s.sub, b.bc),
                   x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT) AS d
          FROM psub s JOIN book b ON b.j = s.j),
        codes AS MATERIALIZED (
          SELECT vec_id, j, cid FROM (
            SELECT vec_id, j, cid,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rk
            FROM cdist) WHERE rk = 1),
        lut AS MATERIALIZED (
          SELECT vec_id AS qid, j, cid, d AS ld FROM cdist
          WHERE vec_id < $NQueries)"""

  /** ADC shortlist + exact-refine replay over an `adc(qid, vec_id, d2)`
    * CTE ([[graft.ops.Similarity.knnPqRefined]]'s tail). */
  private def pqRefineSql(k: Int, shortlist: Int): String =
    s"""short AS MATERIALIZED (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY d2, vec_id) AS rk
            FROM adc) WHERE rk <= $shortlist),
        refine AS MATERIALIZED (
          SELECT s.qid, s.vec_id,
                 CAST(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], e.embedding::DOUBLE[]),
                   x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT) AS d2
          FROM short s
          JOIN embeddings q ON q.vec_id = s.qid
          JOIN embeddings e ON e.vec_id = s.vec_id),
        rr AS (SELECT qid, vec_id, d2,
                 row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rank
               FROM refine)
        SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
               round(CAST(d2 AS DOUBLE) / 100000000.0, 6) AS l2_dist
        FROM rr WHERE rank <= $k ORDER BY qid, rank"""

  /** The flat-PQ ADC scan: every non-self corpus vector is a candidate. */
  private val pqFullScanAdc: String =
    s"""adc AS MATERIALIZED (
          SELECT l.qid, c.vec_id,
                 CAST(list_sum(list(l.ld ORDER BY l.j)) AS BIGINT) AS d2
          FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.cid
          WHERE l.qid <> c.vec_id
          GROUP BY l.qid, c.vec_id)"""

  /** The IVF-routed ADC scan: candidates are the vectors of each query's
    * `nprobe` nearest coarse cells (exact 9-dp L2 routing, cell-asc
    * ties) — [[graft.ops.Similarity.knnIvfPq]]'s pruning replayed over
    * the `cent`/`asgf` CTEs from [[ivfFitSql]]. */
  private def pqIvfRoutedAdc(nprobe: Int, asgRel: String = "asgf"): String =
    s"""ivfroute AS MATERIALIZED (
          SELECT q.vec_id AS qid, c.cell,
                 CAST(list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.centroid),
                   x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT) AS cd2
          FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < $NQueries),
        probed AS MATERIALIZED (
          SELECT qid, cell FROM (
            SELECT qid, cell,
                   row_number() OVER (PARTITION BY qid ORDER BY cd2, cell) AS r
            FROM ivfroute) WHERE r <= $nprobe),
        adc AS MATERIALIZED (
          SELECT l.qid, c.vec_id,
                 CAST(list_sum(list(l.ld ORDER BY l.j)) AS BIGINT) AS d2
          FROM codes c
          JOIN $asgRel a ON a.vec_id = c.vec_id
          JOIN probed p ON p.cell = a.cell
          JOIN lut l ON l.j = c.j AND l.cid = c.cid AND l.qid = p.qid
          WHERE l.qid <> c.vec_id
          GROUP BY l.qid, c.vec_id)"""

  private val ivfPqOracle: String =
    s"""WITH ${ivfFitSql(k = 10, iters = 8)},
        ${pqFitSql(m = 8, subDim = 8, ksub = 16, iters = 8)},
        $pqEncodeSql,
        ${pqIvfRoutedAdc(nprobe = 4)},
        ${pqRefineSql(k = K, shortlist = 8 * K)}"""

  /** q184: artifacts trained on the EVEN half only ("day 0"); codes for
    * the full corpus come from the STORED-artifact encode path, whose
    * cell assignment is the 9-dp DOUBLE routing (assignCells), not the
    * trainer's integer-micro argmin — `asgall` replays exactly that. The
    * grown table is provably identical to a full re-encode (the
    * engine-side self-check), so the oracle just encodes everything. */
  private val ivfPqIncrementalOracle: String =
    s"""WITH ${ivfFitSql(k = 10, iters = 8,
          trainWhere = "WHERE vec_id % 2 = 0", emitAsg = false)},
        ${pqFitSql(m = 8, subDim = 8, ksub = 16, iters = 8,
          trainWhere = "WHERE vec_id % 2 = 0")},
        $pqEncodeSql,
        asgall AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     CAST(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c.centroid),
                   x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT), c.cell) AS r
            FROM embeddings e CROSS JOIN cent c) WHERE r = 1),
        ${pqIvfRoutedAdc(nprobe = 4, asgRel = "asgall")},
        ${pqRefineSql(k = K, shortlist = 8 * K)}"""

  /** q185: the quantizer-staleness monitor replayed end to end — full-
    * corpus deterministic IVF fit, double-routed cell assignments
    * (count_a), the hash-perturbed drifted crawl of the hottest cell
    * (PortableHash noise → bit-replayable vectors; DuckDB's lambda index
    * is 1-based, hence `i - 1`), its routed cells, and the integer
    * micro-nat PSI terms of [[graft.ops.DataQuality.psiTermsFromCounts]].
    * PQ plays no part — occupancy is a cells-only statistic. */
  private val ivfPqDriftOracle: String = {
    def mn(c: String) =
      s"CAST(round(ln(CAST($c AS DOUBLE)) * 1000000.0, 0) AS BIGINT)"
    s"""WITH ${ivfFitSql(k = 10, iters = 8, emitAsg = false)},
        asgall AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     CAST(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c.centroid),
                   x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT), c.cell) AS r
            FROM embeddings e CROSS JOIN cent c) WHERE r = 1),
        counta AS MATERIALIZED (
          SELECT cell, count(*) AS count_a FROM asgall GROUP BY cell),
        hot AS MATERIALIZED (
          SELECT cell FROM counta ORDER BY count_a DESC, cell LIMIT 1),
        drift AS MATERIALIZED (
          SELECT e.vec_id, r.r,
                 list_transform(e.embedding::DOUBLE[], (x, i) ->
                   x + 0.02 * (CAST('0x' || substr(md5('drift|' ||
                     CAST(e.vec_id AS VARCHAR) || '|' || CAST(r.r AS VARCHAR) ||
                     '|' || CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT)
                     / 576460752303423488.0 - 1.0)) AS v
          FROM embeddings e
          JOIN asgall a ON a.vec_id = e.vec_id
          JOIN hot h ON h.cell = a.cell
          CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r),
        driftcell AS MATERIALIZED (
          SELECT vec_id, r, cell FROM (
            SELECT d.vec_id, d.r, c.cell,
                   row_number() OVER (PARTITION BY d.vec_id, d.r ORDER BY
                     CAST(list_sum(list_transform(list_zip(d.v, c.centroid),
                   x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT), c.cell) AS rk
            FROM drift d CROSS JOIN cent c) WHERE rk = 1),
        countb AS MATERIALIZED (
          SELECT cell, count(*) AS count_b FROM (
            SELECT cell FROM asgall UNION ALL SELECT cell FROM driftcell)
          GROUP BY cell),
        counts AS MATERIALIZED (
          SELECT COALESCE(a.cell, b.cell) AS bin,
                 COALESCE(a.count_a, 0) AS count_a,
                 COALESCE(b.count_b, 0) AS count_b
          FROM counta a FULL OUTER JOIN countb b ON b.cell = a.cell),
        tot AS (SELECT sum(count_a) AS na, sum(count_b) AS nb FROM counts),
        terms AS (
          SELECT bin, count_a, count_b,
                 CAST(round((CAST(count_a * 2 + 1 AS DOUBLE) / CAST(na * 2 + 10 AS DOUBLE)
                   - CAST(count_b * 2 + 1 AS DOUBLE) / CAST(nb * 2 + 10 AS DOUBLE))
                   * CAST((${mn("count_a * 2 + 1")} - ${mn("count_b * 2 + 1")}
                     - ${mn("na * 2 + 10")} + ${mn("nb * 2 + 10")}) AS DOUBLE), 0) AS BIGINT)
                   AS term_micro
          FROM counts CROSS JOIN tot)
        SELECT CAST(bin AS BIGINT) AS bin, count_a, count_b, term_micro,
               CAST(sum(term_micro) OVER () AS BIGINT) AS psi_micro
        FROM terms ORDER BY bin"""
  }

  val oracles: Map[String, String] = Map(
    "q185_ivfpq_drift" -> ivfPqDriftOracle,
    // ivfCellBalance replay: the q67 fit chain's asgf code table,
    // occupancy counts, exact-integer moments, two double divisions at
    // the edge (sums CAST back from HUGEINT per the type-class rule).
    "q324_ivf_balance" ->
      s"""WITH ${ivfFitSql(k = 10, iters = 8)},
          c AS (SELECT cell, count(*) AS n FROM asgf GROUP BY cell),
          a AS (SELECT count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS n_vecs,
                       max(n) AS max_cell, min(n) AS min_cell,
                       CAST(sum(n * n) AS BIGINT) AS sq FROM c)
          SELECT n_cells, n_vecs, max_cell, min_cell,
                 round(CAST(sq AS DOUBLE) / CAST(n_vecs * n_vecs AS DOUBLE), 6) AS hhi,
                 round(CAST(n_vecs * n_vecs AS DOUBLE) / CAST(sq AS DOUBLE), 6) AS effective_cells,
                 round(CAST(max_cell AS DOUBLE) * CAST(n_cells AS DOUBLE)
                       / CAST(n_vecs AS DOUBLE), 6) AS max_over_mean
          FROM a""",
    "q114_knn_pq" ->
      s"""WITH ${pqFitSql(m = 8, subDim = 8, ksub = 16, iters = 8)},
          $pqEncodeSql,
          $pqFullScanAdc,
          ${pqRefineSql(k = K, shortlist = 8 * K)}""",
    // the stored round-trip (q167) must be row-identical to the
    // in-process search (q160) — one oracle text, two queries
    "q160_knn_ivfpq" -> ivfPqOracle,
    "q167_knn_ivfpq_stored" -> ivfPqOracle,
    // ivfRecallCurve replay: the deterministic IVF fit (cent + asgf),
    // q38's exact micro-cosine top-10 ground truth, the 1e-8-quantized
    // L2 cell routing knnIvfPq uses (cell-asc ties), and one grouped
    // count over the literal (nprobe, k) grid.
    "q333_ivf_recall_curve" ->
      s"""WITH ${ivfFitSql(k = 10, iters = 8)},
          $knnCore,
          csc AS (SELECT qid, e.vec_id,
                    ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          truth AS (SELECT qid, vec_id, rank FROM (
                      SELECT qid, vec_id,
                             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                      FROM csc) WHERE rank <= 10),
          rt AS (SELECT q.qid, c.cell,
                   CAST(list_sum(list_transform(list_zip(q.qv, c.centroid),
                     x -> CAST(round((x[1] - x[2]) * (x[1] - x[2]) * 100000000.0, 0) AS BIGINT))) AS BIGINT) AS d2
                 FROM q CROSS JOIN cent c),
          crk AS (SELECT qid, cell,
                    row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS cellrank
                  FROM rt),
          hm AS (SELECT t.qid, t.rank, k.cellrank
                 FROM truth t JOIN asgf a ON a.vec_id = t.vec_id
                              JOIN crk k ON k.qid = t.qid AND k.cell = a.cell),
          grid AS (SELECT p.np, kk.kk FROM (VALUES (1), (2), (4), (8)) p(np)
                   CROSS JOIN (VALUES (1), (5), (10)) kk(kk)),
          nn AS (SELECT count(*) AS n FROM q)
          SELECT CAST(g.np AS BIGINT) AS nprobe, CAST(g.kk AS BIGINT) AS k,
                 CAST(nn.n AS BIGINT) AS n_queries,
                 CAST(sum(CASE WHEN hm.rank <= g.kk AND hm.cellrank <= g.np
                               THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                 round(CAST(sum(CASE WHEN hm.rank <= g.kk AND hm.cellrank <= g.np
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / (g.kk * nn.n), 6) AS recall
          FROM grid g CROSS JOIN nn CROSS JOIN hm
          GROUP BY g.np, g.kk, nn.n ORDER BY nprobe, k""",
    "q184_ivfpq_incremental" -> ivfPqIncrementalOracle,
    "q67_knn_ivf_trained" ->
      s"""WITH ${ivfFitSql(k = 10, iters = 8)},
          $knnCore,
          routed AS (SELECT q.qid, q.qv, c.cell,
                       ${cosMicroSql("q.qv", "c.centroid")} AS csim
                     FROM q CROSS JOIN cent c),
          best AS (SELECT qid, qv, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY csim DESC, cell) AS r FROM routed) WHERE r <= 2),
          sc AS (SELECT b.qid, a.vec_id,
                   ${cosMicroSql("b.qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM best b JOIN asgf a ON a.cell = b.cell
                 JOIN embeddings e ON e.vec_id = a.vec_id
                 WHERE a.vec_id <> b.qid),
          r AS (SELECT qid, vec_id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
          FROM r WHERE rank <= $K ORDER BY qid, rank""",
    "q119_knn_join_cells" ->
      s"""WITH sc AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
                 ${cosMicroSql("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} AS sim
               FROM embeddings a JOIN embeddings b
                 ON a.label = b.label AND a.vec_id <> b.vec_id),
          r AS (SELECT qid, vec_id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
          FROM r WHERE rank <= 3 ORDER BY qid, rank""",
    // dpTopK replay: hash-uniform Gumbel −ln(−ln(u)) at scale k/ε = 10,
    // 6-dp scores, item-asc ties, top-10.
    "q304_dp_topk" -> {
      val u = "(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|' || '42'), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0"
      s"""WITH c AS (SELECT user_id, count(*) AS c FROM events
                     WHERE user_id IS NOT NULL GROUP BY user_id),
          sc AS (SELECT user_id,
                   round(c + 10.0 * (-ln(-ln($u))), 6) AS score FROM c),
          r AS (SELECT user_id, score,
                  row_number() OVER (ORDER BY score DESC, user_id) AS rank
                FROM sc)
          SELECT CAST(rank AS BIGINT) AS rank, user_id
          FROM r WHERE rank <= 10 ORDER BY rank"""
    },
    // rrfFusion replay: q38's cosine ranks + the raw-dot ranks scored as
    // per-term integer-micro sums (round(aᵢ·bᵢ·1e8) BIGINT, exactly the
    // engine's GraftDotMicro8 kernel — order-free, no reliance on any
    // builtin's fold order), integer micro 1/(60+rank) contributions,
    // item-asc ties.
    "q299_rank_fusion" ->
      s"""WITH $knnCore,
          csc AS (SELECT qid, e.vec_id,
                    ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          cr AS (SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                 FROM csc),
          dsc AS (SELECT qid, e.vec_id,
                    CAST(list_sum(list_transform(range(1, len(qv) + 1), i ->
                      CAST(round(qv[i] * (e.embedding::DOUBLE[])[i] * 100000000.0, 0) AS BIGINT)))
                      AS BIGINT) AS dm
                  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          dr AS (SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY dm DESC, vec_id) AS rank
                 FROM dsc),
          rr AS (SELECT qid, vec_id, rank FROM cr WHERE rank <= $K
                 UNION ALL SELECT qid, vec_id, rank FROM dr WHERE rank <= $K),
          sc AS (SELECT qid, vec_id,
                   CAST(sum(CAST(round(1000000.0 / (60 + rank), 0) AS BIGINT)) AS BIGINT) AS rrf_micro
                 FROM rr GROUP BY qid, vec_id),
          f AS (SELECT qid, vec_id, rrf_micro,
                  row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, vec_id) AS fused_rank
                FROM sc)
          SELECT qid, CAST(fused_rank AS BIGINT) AS fused_rank, vec_id, rrf_micro
          FROM f WHERE fused_rank <= 5 ORDER BY qid, fused_rank""",
    // pc1PowerIteration replay: three unrolled v ← Xᵀ(Xv)/‖·‖ steps with
    // the identical 1e-8/1e-6 term quantization, HUGEINT norm squares,
    // 9-dp re-quantized v per step.
    "q294_pca_power" ->
      s"""WITH $pcaChainSql
          SELECT CAST(v3.idx AS INTEGER) AS idx, v3.v AS loading,
            (SELECT round(sqrt(CAST(n2 AS DOUBLE)) / 1000000.0, 6) FROM n3) AS op_norm
          FROM v3 ORDER BY v3.idx""",
    // anisotropyResidual replay: the q294 chain + integer-micro mean,
    // 1e-8-quantized projection and residual sums, one sqrt at the edge.
    "q306_anisotropy" ->
      s"""WITH $pcaChainSql,
          mu AS (SELECT j, CAST(sum(CAST(round(xv * 1000000, 0) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1000000.0 AS mu
                 FROM xj GROUP BY j),
          cen AS (SELECT xj.vec_id, xj.j, xj.xv - mu.mu AS xc, v3.v AS u
                  FROM xj JOIN mu USING (j) JOIN v3 ON xj.j = v3.idx),
          pr AS (SELECT vec_id,
                   CAST(sum(CAST(round(xc * u * 100000000, 0) AS BIGINT)) AS DOUBLE)
                     / 100000000.0 AS p
                 FROM cen GROUP BY vec_id),
          rs AS (SELECT c.vec_id, pr.p,
                   sum(CAST(round((c.xc - pr.p * c.u) * (c.xc - pr.p * c.u)
                     * 100000000, 0) AS BIGINT)) AS rsum
                 FROM cen c JOIN pr USING (vec_id) GROUP BY c.vec_id, pr.p)
          SELECT vec_id, round(p, 6) AS proj,
            round(sqrt(CAST(rsum AS DOUBLE) / 100000000.0), 6) AS resid_norm
          FROM rs ORDER BY vec_id""",
    // ndcgAtK replay: q38's exact ranking shape over 40 queries with
    // same-label relevance; DCG/IDCG are integer sums of the SAME
    // driver-quantized micro discounts the engine inlines.
    "q287_ndcg" -> {
      val discs = Evaluation.discountMicros(10)
      val prefix = discs.scanLeft(0L)(_ + _).tail
      s"""WITH q AS (SELECT vec_id AS qid, label AS qlab,
                embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 40),
          sc AS (SELECT qid, qlab, e.vec_id, e.label AS nl,
                   ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          r AS (SELECT qid, CASE WHEN nl = qlab THEN 1 ELSE 0 END AS rel,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                FROM sc),
          a AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS nrel,
                  CAST(sum(rel * ([${discs.mkString(", ")}])[rank]) AS BIGINT) AS dcg
                FROM r WHERE rank <= 10 GROUP BY qid)
          SELECT qid, nrel AS n_rel,
            CASE WHEN nrel = 0 THEN 0.0
                 ELSE round(CAST(dcg AS DOUBLE)
                   / CAST(([${prefix.mkString(", ")}])[nrel] AS DOUBLE), 6)
            END AS ndcg
          FROM a ORDER BY qid"""
    },
    "q38_knn_bruteforce" ->
      s"""WITH $knnCore,
          sc AS (SELECT qid, e.vec_id, ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""",
    // hammingRecall replay: q315's bit ranking ∩ q38's micro-cosine
    // ranking, per cutoff k — both exact-integer protocols.
    "q318_hamming_recall" -> {
      val legs = Seq(1, 5, 10).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
              round((SELECT count(*) FROM hr JOIN cr USING (qid, vec_id)
                     WHERE hr.rank <= $k AND cr.rank <= $k) * 1.0
                    / ((SELECT count(*) FROM q) * $k), 6) AS recall""")
        .mkString("\n          UNION ALL ")
      s"""WITH b AS (SELECT vec_id,
              CAST(list_sum(list_transform(range(1, 33), i ->
                CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
              CAST(list_sum(list_transform(range(33, 65), i ->
                CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
            FROM embeddings),
          qb AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM b WHERE vec_id < $NQueries),
          hsc AS (SELECT qid, b.vec_id,
                    bit_count(xor(b.lo, qlo)) + bit_count(xor(b.hi, qhi)) AS hd
                  FROM qb CROSS JOIN b WHERE b.vec_id <> qid),
          hr AS (SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY hd, vec_id) AS rank
                 FROM hsc),
          $knnCore,
          csc AS (SELECT qid, e.vec_id,
                    ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          cr AS (SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                 FROM csc)
          $legs
          ORDER BY k"""
    },
    // hammingRerankAudit replay: q315's bit-packed tier shortlists 20,
    // the micro-cosine kernel re-ranks the shortlist only, integer rank
    // displacement at the edge. No window sums — every column is a
    // row_number BIGINT, an integer difference, or the 6-dp kernel sim.
    "q321_rerank_audit" ->
      s"""WITH b AS (SELECT vec_id,
              CAST(list_sum(list_transform(range(1, 33), i ->
                CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
              CAST(list_sum(list_transform(range(33, 65), i ->
                CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
            FROM embeddings),
          qb AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM b WHERE vec_id < $NQueries),
          hsc AS (SELECT qid, b.vec_id,
                    bit_count(xor(b.lo, qlo)) + bit_count(xor(b.hi, qhi)) AS hd
                  FROM qb CROSS JOIN b WHERE b.vec_id <> qid),
          hr AS (SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY hd, vec_id) AS tier_rank
                 FROM hsc),
          $knnCore,
          sc AS (SELECT hr.qid, hr.vec_id, hr.tier_rank,
                   ${cosMicroSql("q.qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM hr JOIN embeddings e ON e.vec_id = hr.vec_id
                 JOIN q ON q.qid = hr.qid
                 WHERE hr.tier_rank <= 20),
          f AS (SELECT qid, vec_id, tier_rank, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS final_rank
                FROM sc)
          SELECT qid, CAST(final_rank AS BIGINT) AS final_rank, vec_id,
                 CAST(tier_rank AS BIGINT) AS tier_rank, sim,
                 CAST(tier_rank - final_rank AS BIGINT) AS moved
          FROM f WHERE final_rank <= 5 ORDER BY qid, final_rank""",
    // signBits/knnHamming replay: identical bit packing (two 32-bit
    // halves — 64-bit-safe in any engine), XOR + popcount distance,
    // (hamming asc, id asc) ties.
    "q315_sign_hamming" ->
      s"""WITH b AS (SELECT vec_id,
              CAST(list_sum(list_transform(range(1, 33), i ->
                CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
              CAST(list_sum(list_transform(range(33, 65), i ->
                CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
            FROM embeddings),
          q AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM b WHERE vec_id < $NQueries),
          sc AS (SELECT qid, b.vec_id,
                   CAST(bit_count(xor(b.lo, qlo)) + bit_count(xor(b.hi, qhi)) AS BIGINT) AS hamming
                 FROM q CROSS JOIN b WHERE b.vec_id <> qid),
          r AS (SELECT qid, vec_id, hamming,
                  row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS rank
                FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, hamming
          FROM r WHERE rank <= $K ORDER BY qid, rank""",
    // Plane-cell assignment (q65's plane replay, one table), exact
    // within-cell top-10, label-disagreement share.
    "q279_label_noise" ->
      s"""WITH planes AS (
            SELECT b, list(w ORDER BY j) AS w FROM (
              SELECT b.range AS b, j.range AS j,
                     CAST('0x' || substr(md5('graft-noise|0|' || b.range || '|' || j.range), 1, 15) AS BIGINT)
                       / 576460752303423488.0 - 1.0 AS w
              FROM range(3) b, range(64) j)
            GROUP BY b),
          v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          cells AS (
            SELECT c.vec_id,
                   CAST(sum(CASE WHEN round(list_cosine_similarity(c.v, p.w), 6) >= 0
                                 THEN CAST(1 AS BIGINT) << p.b ELSE 0 END) AS BIGINT) AS cell
            FROM v c CROSS JOIN planes p GROUP BY c.vec_id),
          sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                   ${cosMicroSql("x.v", "y.v")} AS sim
                 FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
                 JOIN v x ON x.vec_id = a.vec_id JOIN v y ON y.vec_id = b.vec_id),
          r AS (SELECT qid, nid,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
                FROM sc)
          SELECT qid AS vec_id, x.label, CAST(count(*) AS BIGINT) AS n_neighbors,
                 round(sum(CASE WHEN y.label <> x.label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS disagreement
          FROM r JOIN v x ON x.vec_id = r.qid JOIN v y ON y.vec_id = r.nid
          WHERE rk <= 10 GROUP BY qid, x.label ORDER BY vec_id""",
    // q38's scorer replayed at full dims (ground truth) and per prefix
    // length; recall = surviving pairs / (|queries| * k).
    "q274_matryoshka_recall" -> {
      def topk(cte: String, simExpr: String) =
        s"""$cte AS (SELECT qid, vec_id FROM (
              SELECT qid, e.vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY $simExpr DESC, e.vec_id) AS rk
              FROM mq CROSS JOIN embeddings e WHERE e.vec_id <> qid)
            WHERE rk <= 10)"""
      val fullSim = cosMicroSql("qv", "e.embedding::DOUBLE[]")
      def dimSim(d: Int) =
        cosMicroSql(s"qv[1:$d]", s"(e.embedding::DOUBLE[])[1:$d]")
      val dimCtes = Seq(8, 16, 32)
        .map(d => topk(s"t$d", dimSim(d))).mkString(",\n          ")
      val legs = Seq(8, 16, 32).map(d =>
        s"""SELECT CAST($d AS BIGINT) AS dims,
              round((SELECT count(*) FROM t$d JOIN fullr USING (qid, vec_id)) * 1.0
                    / ((SELECT count(*) FROM mq) * 10), 6) AS recall""")
        .mkString("\n          UNION ALL ")
      s"""WITH mq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 40),
          ${topk("fullr", fullSim)},
          $dimCtes
          $legs
          ORDER BY dims"""
    },
    // Pseudonym replay: same keyed hash, join on the pseudonym.
    "q263_pseudonymize" ->
      """WITH ev AS (SELECT CAST('0x' || substr(md5('rotation-2026q3|' || user_id), 1, 15) AS BIGINT) AS pid,
                            event_type
                     FROM events WHERE user_id IS NOT NULL),
          u AS (SELECT DISTINCT CAST('0x' || substr(md5('rotation-2026q3|' || user_id), 1, 15) AS BIGINT) AS pid
                FROM events WHERE user_id IS NOT NULL)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(DISTINCT pid) AS BIGINT) AS nd_users
          FROM ev JOIN u USING (pid)
          GROUP BY event_type ORDER BY event_type""",
    // q38's scorer with the label inequality fused in.
    "q262_hard_negatives" ->
      s"""WITH ql AS (SELECT vec_id AS qid, label AS qlab, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < $NQueries),
          sc AS (SELECT qid, e.vec_id, ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM ql CROSS JOIN embeddings e
                 WHERE e.vec_id <> qid AND e.label <> qlab),
          r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""",
    "q82_knn_topk_agg" ->
      s"""WITH $knnCore,
          sc AS (SELECT qid, e.vec_id, ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM q CROSS JOIN embeddings e WHERE e.vec_id <> qid),
          r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""",
    "q39_knn_ivf" ->
      s"""WITH cent AS (SELECT label, list(round(m, 6) ORDER BY p) AS centroid FROM (
            SELECT label, p, avg(v) AS m FROM (
              SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v, generate_subscripts(embedding, 1) AS p
              FROM embeddings) GROUP BY label, p) GROUP BY label),
          $knnCore,
          routed AS (SELECT qid, qv, label, ${cosMicroSql("qv", "centroid")} AS csim
                     FROM q CROSS JOIN cent),
          best AS (SELECT qid, qv, label FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, label) AS r FROM routed) WHERE r = 1),
          sc AS (SELECT qid, e.vec_id, ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM best b JOIN embeddings e ON e.label = b.label AND e.vec_id <> b.qid),
          r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""",
    "q66_knn_ivf_probe2" ->
      s"""WITH cent AS (SELECT label, list(round(m, 6) ORDER BY p) AS centroid FROM (
            SELECT label, p, avg(v) AS m FROM (
              SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v, generate_subscripts(embedding, 1) AS p
              FROM embeddings) GROUP BY label, p) GROUP BY label),
          $knnCore,
          routed AS (SELECT qid, qv, label, ${cosMicroSql("qv", "centroid")} AS csim
                     FROM q CROSS JOIN cent),
          best AS (SELECT qid, qv, label FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, label) AS r FROM routed) WHERE r <= 2),
          sc AS (SELECT qid, e.vec_id, ${cosMicroSql("qv", "e.embedding::DOUBLE[]")} AS sim
                 FROM best b JOIN embeddings e ON e.label = b.label AND e.vec_id <> b.qid),
          r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""",
    "q92_semantic_dedup" ->
      s"""WITH corpus AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
            UNION ALL
            SELECT oid + $PlantedIdOff AS vec_id, label,
                   list(x + CAST($PertAmp AS DOUBLE) *
                        (CAST('0x' || substr(md5('pert|' || oid || '|' || (j - 1)), 1, 15) AS BIGINT)
                         / 576460752303423488.0 - 1.0) ORDER BY j) AS v
            FROM (SELECT vec_id AS oid, label, CAST(unnest(embedding) AS DOUBLE) AS x,
                         generate_subscripts(embedding, 1) AS j
                  FROM embeddings WHERE vec_id < $NPlanted)
            GROUP BY oid, label),
          dup AS (SELECT DISTINCT c.vec_id
                  FROM corpus o JOIN corpus c
                    ON o.label = c.label AND o.vec_id < c.vec_id
                  WHERE ${cosMicroSql("o.v", "c.v")} >= $SemThreshold)
          SELECT c.vec_id, c.label FROM corpus c
          WHERE c.vec_id NOT IN (SELECT vec_id FROM dup)
          ORDER BY vec_id""",
    "q65_cosine_lsh_neardup" ->
      s"""WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            UNION ALL
            SELECT oid + $PlantedIdOff AS vec_id,
                   list(x + CAST($PertAmp AS DOUBLE) *
                        (CAST('0x' || substr(md5('pert|' || oid || '|' || (j - 1)), 1, 15) AS BIGINT)
                         / 576460752303423488.0 - 1.0) ORDER BY j) AS v
            FROM (SELECT vec_id AS oid, CAST(unnest(embedding) AS DOUBLE) AS x,
                         generate_subscripts(embedding, 1) AS j
                  FROM embeddings WHERE vec_id < $NPlanted)
            GROUP BY oid),
          planes AS (
            SELECT t, b, list(w ORDER BY j) AS w FROM (
              SELECT t.range AS t, b.range AS b, j.range AS j,
                     CAST('0x' || substr(md5('graft-lsh|' || t.range || '|' || b.range || '|' || j.range), 1, 15) AS BIGINT)
                       / 576460752303423488.0 - 1.0 AS w
              FROM range(8) t, range(8) b, range(64) j)
            GROUP BY t, b),
          cells AS (
            SELECT c.vec_id, p.t,
                   CAST(sum(CASE WHEN round(list_cosine_similarity(c.v, p.w), 6) >= 0
                                 THEN CAST(1 AS BIGINT) << p.b ELSE 0 END) AS BIGINT) AS cell
            FROM corpus c CROSS JOIN planes p GROUP BY c.vec_id, p.t),
          cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM cells a JOIN cells b ON a.t = b.t AND a.cell = b.cell AND a.vec_id < b.vec_id),
          sc AS (SELECT id_a, id_b, ${cosMicroSql("x.v", "y.v")} AS sim
                 FROM cand JOIN corpus x ON x.vec_id = cand.id_a JOIN corpus y ON y.vec_id = cand.id_b)
          SELECT id_a, id_b, sim FROM sc WHERE sim >= $LshThreshold ORDER BY id_a, id_b""",
    "q56_cosine_near_dup" ->
      s"""WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                ${cosMicroSql("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} AS sim
              FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
          SELECT id_a, id_b, sim FROM p WHERE sim >= 0.44 ORDER BY id_a, id_b""",
    "q73_knn_quantized" ->
      s"""WITH qn AS (
            SELECT vec_id,
                   CASE WHEN mx > 0
                        THEN list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 127 / mx))
                        ELSE list_transform(embedding, x -> 0.0) END AS qvec
            FROM (SELECT vec_id, embedding,
                         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
                  FROM embeddings)),
          q AS (SELECT vec_id AS qid, qvec AS qv FROM qn WHERE vec_id < $NQueries),
          sc AS (SELECT qid, c.vec_id, ${cosMicroSql("qv", "c.qvec")} AS sim
                 FROM q CROSS JOIN qn c WHERE c.vec_id <> qid),
          r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""",
    "q85_asof_join" ->
      """WITH u AS (
            SELECT user_id AS k, ts, 1 AS m, -1 AS tie, event_id,
                   NULL::BIGINT AS p_eid, NULL::DOUBLE AS p_val
            FROM events WHERE event_type = 'view'
            UNION ALL
            SELECT user_id, ts, 0, event_id, NULL, event_id, value
            FROM events WHERE event_type = 'click'),
          f AS (SELECT *,
                  last_value(p_eid IGNORE NULLS) OVER win AS asof_click_event_id,
                  last_value(p_val IGNORE NULLS) OVER win AS asof_click_value
                FROM u
                WINDOW win AS (PARTITION BY k ORDER BY ts, m, tie ROWS UNBOUNDED PRECEDING))
          SELECT event_id, k AS user_id, asof_click_event_id, asof_click_value
          FROM f WHERE m = 1 ORDER BY event_id""",
    "q90_range_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
                min(c.event_id) AS first_click_id
          FROM events p JOIN events c
            ON c.user_id = p.user_id
           AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 24 HOURS
          WHERE p.event_type = 'purchase' AND c.event_type = 'click'
          GROUP BY 1 ORDER BY 1""",
    // Same subject construction (per-type user first/last day, censor
    // within 3 days of the horizon), same nano-unit ln-sum product.
    "q202_kaplan_meier" ->
      """WITH hz AS (SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS h FROM events),
          subj AS (SELECT event_type AS g,
                     CAST(date_diff('day', min(CAST(date_trunc('day', ts) AS DATE)),
                                    max(CAST(date_trunc('day', ts) AS DATE))) AS BIGINT) AS t,
                     CASE WHEN max(CAST(date_trunc('day', ts) AS DATE)) < (SELECT h FROM hz) - 3
                          THEN 1 ELSE 0 END AS e
                   FROM events GROUP BY event_type, user_id),
          byt AS (SELECT g, t, CAST(sum(e) AS BIGINT) AS d, count(*) AS r
                  FROM subj GROUP BY 1, 2),
          risk AS (SELECT g, t, d, r,
                     CAST(sum(r) OVER (PARTITION BY g)
                       - coalesce(sum(r) OVER (PARTITION BY g ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS n_risk
                   FROM byt),
          lf AS (SELECT g, t, d, n_risk,
                   CASE WHEN d = 0 OR d >= n_risk THEN 0
                        ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                                        * 1000000000, 0) AS BIGINT) END AS lnf
                 FROM risk),
          s AS (SELECT g, t, d, n_risk,
                  min(n_risk - d) OVER (PARTITION BY g ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS alive,
                  sum(lnf) OVER (PARTITION BY g ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cls
                FROM lf)
          SELECT g AS event_type, t, n_risk, d AS d_events,
                 CASE WHEN alive = 0 THEN 0.0
                      ELSE round(exp(cls / 1000000000.0), 6) END AS survival
          FROM s WHERE d > 0 ORDER BY event_type, t""",
    // q202's subject table split into parity arms; E/V terms replay the
    // engine's exact double shapes, micro-rounded then HUGEINT-summed.
    "q219_logrank" ->
      """WITH hz AS (SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS h FROM events),
          subj AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'arm_0' ELSE 'arm_1' END AS arm,
                     CAST(date_diff('day', min(CAST(date_trunc('day', ts) AS DATE)),
                                    max(CAST(date_trunc('day', ts) AS DATE))) AS BIGINT) AS t,
                     CASE WHEN max(CAST(date_trunc('day', ts) AS DATE)) < (SELECT h FROM hz) - 3
                          THEN 1 ELSE 0 END AS e
                   FROM events GROUP BY user_id),
          byt AS (SELECT t,
                    CAST(sum(CASE WHEN arm = 'arm_0' THEN e ELSE 0 END) AS BIGINT) AS da,
                    CAST(sum(CASE WHEN arm <> 'arm_0' THEN e ELSE 0 END) AS BIGINT) AS db,
                    CAST(sum(CASE WHEN arm = 'arm_0' THEN 1 ELSE 0 END) AS BIGINT) AS ra,
                    CAST(sum(CASE WHEN arm <> 'arm_0' THEN 1 ELSE 0 END) AS BIGINT) AS rb
                  FROM subj GROUP BY t),
          risk AS (SELECT t, da, db, ra, rb,
                     CAST(sum(ra) OVER ()
                       - coalesce(sum(ra) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS na,
                     CAST(sum(rb) OVER ()
                       - coalesce(sum(rb) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nb
                   FROM byt),
          agg AS (SELECT CAST(sum(ra) AS BIGINT) AS n_a, CAST(sum(rb) AS BIGINT) AS n_b,
                    CAST(sum(da) AS BIGINT) AS events_a, CAST(sum(db) AS BIGINT) AS events_b,
                    sum(CAST(round((CASE WHEN da + db > 0 AND na + nb > 0
                      THEN CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)
                      ELSE 0.0 END) * 1000000.0, 0) AS HUGEINT)) AS e6,
                    sum(CAST(round((CASE WHEN da + db > 0 AND na + nb > 1
                      THEN CAST(da + db AS DOUBLE)
                           * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
                           * (CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                           * (CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
                           / (CAST(na + nb AS DOUBLE) - 1.0)
                      ELSE 0.0 END) * 1000000.0, 0) AS HUGEINT)) AS v6
                  FROM risk)
          SELECT 'arm_0' AS arm_a, 'arm_1' AS arm_b, n_a, n_b, events_a, events_b,
                 round(CAST(e6 AS DOUBLE) / 1000000.0, 6) AS expected_a,
                 CASE WHEN CAST(v6 AS DOUBLE) / 1000000.0 > 0
                      THEN round((CAST(events_a AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000.0)
                                 * (CAST(events_a AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000.0)
                                 / (CAST(v6 AS DOUBLE) / 1000000.0), 6)
                 END AS chi2
          FROM agg""",
    // Same exact-decimal moments, pooled theta, per-arm adjusted means.
    "q203_cuped" ->
      """WITH units AS (SELECT 'arm_' || CAST(user_id % 2 AS VARCHAR) AS arm,
                   coalesce(round(CAST(sum(CASE WHEN CAST(date_trunc('day', ts) AS DATE) < DATE '2024-01-16'
                     THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6), 0.0) AS x,
                   coalesce(round(CAST(sum(CASE WHEN CAST(date_trunc('day', ts) AS DATE) >= DATE '2024-01-16'
                     THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6), 0.0) AS y
                 FROM events GROUP BY user_id),
          g AS (SELECT count(*) AS n,
                  sum(CAST(x AS DECIMAL(38,12))) AS sx, sum(CAST(y AS DECIMAL(38,12))) AS sy,
                  sum(CAST(x*x AS DECIMAL(38,12))) AS sxx, sum(CAST(x*y AS DECIMAL(38,12))) AS sxy
                FROM units),
          th AS (SELECT CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n <> 0
                             THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
                                  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n)
                             ELSE 0.0 END AS theta,
                        CAST(sx AS DOUBLE)/n AS mx FROM g),
          adj AS (SELECT arm, y, y - theta*(x - mx) AS ya, theta
                  FROM units CROSS JOIN th),
          a AS (SELECT arm, count(*) AS n,
                  sum(CAST(y AS DECIMAL(38,12))) AS ay, sum(CAST(y*y AS DECIMAL(38,12))) AS ayy,
                  sum(CAST(ya AS DECIMAL(38,12))) AS aya, sum(CAST(ya*ya AS DECIMAL(38,12))) AS ayaa,
                  min(theta) AS th FROM adj GROUP BY arm)
          SELECT arm, n,
                 round(CAST(ay AS DOUBLE)/n, 6) AS mean_y,
                 round(CAST(aya AS DOUBLE)/n, 6) AS mean_y_cuped,
                 round((CAST(ayy AS DOUBLE) - CAST(ay AS DOUBLE)*CAST(ay AS DOUBLE)/n)/(n-1), 6) AS var_y,
                 round((CAST(ayaa AS DOUBLE) - CAST(aya AS DOUBLE)*CAST(aya AS DOUBLE)/n)/(n-1), 6) AS var_y_cuped,
                 CASE WHEN (CAST(ayy AS DOUBLE) - CAST(ay AS DOUBLE)*CAST(ay AS DOUBLE)/n)/(n-1) <> 0
                      THEN round(1.0 - ((CAST(ayaa AS DOUBLE) - CAST(aya AS DOUBLE)*CAST(aya AS DOUBLE)/n)/(n-1))
                                 / ((CAST(ayy AS DOUBLE) - CAST(ay AS DOUBLE)*CAST(ay AS DOUBLE)/n)/(n-1)), 6)
                 END AS var_reduction,
                 round(th, 6) AS theta
          FROM a ORDER BY arm""",
    // Same lead() pairing on (ts, event_id) order, row-normalized.
    "q204_markov" ->
      """WITH p AS (SELECT event_type AS f,
                   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
                 FROM events),
          c AS (SELECT f AS from_state, t AS to_state, count(*) AS n
                FROM p WHERE t IS NOT NULL GROUP BY 1, 2)
          SELECT from_state, to_state, n,
                 round(CAST(n AS DOUBLE)
                       / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE), 6) AS prob
          FROM c ORDER BY from_state, to_state""",
    // Same pooled z arithmetic; arms ordered by name.
    "q205_two_prop_z" ->
      """WITH units AS (SELECT 'arm_' || CAST(user_id % 2 AS VARCHAR) AS arm,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
                 FROM events GROUP BY user_id),
          pa AS (SELECT arm, count(*) AS n, CAST(sum(s) AS BIGINT) AS k
                 FROM units GROUP BY arm),
          w AS (SELECT min(arm) AS aa, max(arm) AS ab FROM pa),
          j AS (SELECT w.aa, a.n AS n_a, a.k AS k_a, w.ab, b.n AS n_b, b.k AS k_b
                FROM w JOIN pa a ON a.arm = w.aa JOIN pa b ON b.arm = w.ab)
          SELECT aa AS arm_a, n_a, k_a AS conv_a, ab AS arm_b, n_b, k_b AS conv_b,
                 round(CAST(k_a AS DOUBLE)/CAST(n_a AS DOUBLE), 6) AS p_a,
                 round(CAST(k_b AS DOUBLE)/CAST(n_b AS DOUBLE), 6) AS p_b,
                 CASE WHEN CAST(k_a + k_b AS DOUBLE)/(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) <> 0.0
                       AND CAST(k_a + k_b AS DOUBLE)/(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) <> 1.0
                      THEN round((CAST(k_a AS DOUBLE)/CAST(n_a AS DOUBLE)
                                  - CAST(k_b AS DOUBLE)/CAST(n_b AS DOUBLE))
                                 / sqrt(CAST(k_a + k_b AS DOUBLE)/(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                                        * (1.0 - CAST(k_a + k_b AS DOUBLE)/(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                                        * (1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))), 6)
                 END AS z
          FROM j""",
    "q110_funnel" ->
      """WITH s1 AS (SELECT user_id,
              min(CASE WHEN event_type = 'view' THEN ts END) AS t1
            FROM events GROUP BY user_id),
          s2 AS (SELECT e.user_id, s1.t1,
              min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
            FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id, s1.t1),
          s3 AS (SELECT e.user_id, s2.t1, s2.t2,
              min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
            FROM events e JOIN s2 USING (user_id) GROUP BY e.user_id, s2.t1, s2.t2)
          SELECT CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stage1,
                 CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stage2,
                 CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stage3
          FROM s3""",
    "q111_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
                    FROM events GROUP BY user_id),
          a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
          SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
                 CAST(floor(date_diff('day', cohort_week, aw) / 7) AS BIGINT) AS week_offset,
                 count(DISTINCT user_id) AS n_active
          FROM a JOIN f USING (user_id)
          GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
    "q112_outliers" ->
      """SELECT event_id, event_type, value, z FROM (
            SELECT event_id, event_type, value,
              round((value - avg(value) OVER (PARTITION BY event_type))
                    / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
            FROM events)
          WHERE abs(z) > 2.5 ORDER BY event_id""",
    "q105_moving_agg" ->
      """SELECT event_id, user_id,
           count(*) OVER w AS n_window,
           round(avg(value) OVER w, 6) AS avg_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q136_resample_ffill" ->
      """WITH b AS (SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
                      round(sum(CAST(round(value * 1000000) AS BIGINT)) / (count(*) * 1000000.0), 6) AS avg_v,
                      count(*) AS n
                    FROM events GROUP BY 1, 2),
          bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM b),
          grid AS (SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
                   FROM (SELECT DISTINCT event_type FROM b) CROSS JOIN bounds)
          SELECT event_type, strftime(make_timestamp(b * 1000000), '%Y-%m-%d %H:%M:%S') AS bucket,
                 coalesce(n, 0) AS n_events,
                 last_value(avg_v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
                   ROWS UNBOUNDED PRECEDING) AS avg_value
          FROM grid LEFT JOIN b USING (event_type, b)
          ORDER BY event_type, b""",
    // Same micro-unit cell sums; DiD replays the engine's unrounded
    // mean arithmetic. Control = lexicographic min arm ('arm_0').
    "q244_did" ->
      """WITH r AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'arm_0' ELSE 'arm_1' END AS arm,
                      CAST(date_trunc('day', ts) AS DATE) >= DATE '2024-01-16' AS post,
                      CAST(round(value * 1000000.0, 0) AS HUGEINT) AS vm
                 FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
          a AS (SELECT
                  sum(CASE WHEN arm = 'arm_0' AND NOT post THEN vm END) AS scpre,
                  CAST(sum(CASE WHEN arm = 'arm_0' AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS ncpre,
                  sum(CASE WHEN arm = 'arm_0' AND post THEN vm END) AS scpost,
                  CAST(sum(CASE WHEN arm = 'arm_0' AND post THEN 1 ELSE 0 END) AS BIGINT) AS ncpost,
                  sum(CASE WHEN arm <> 'arm_0' AND NOT post THEN vm END) AS stpre,
                  CAST(sum(CASE WHEN arm <> 'arm_0' AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS ntpre,
                  sum(CASE WHEN arm <> 'arm_0' AND post THEN vm END) AS stpost,
                  CAST(sum(CASE WHEN arm <> 'arm_0' AND post THEN 1 ELSE 0 END) AS BIGINT) AS ntpost
                FROM r),
          m AS (SELECT
                  CAST(scpre AS DOUBLE) / 1000000.0 / CAST(ncpre AS DOUBLE) AS mcpre,
                  CAST(scpost AS DOUBLE) / 1000000.0 / CAST(ncpost AS DOUBLE) AS mcpost,
                  CAST(stpre AS DOUBLE) / 1000000.0 / CAST(ntpre AS DOUBLE) AS mtpre,
                  CAST(stpost AS DOUBLE) / 1000000.0 / CAST(ntpost AS DOUBLE) AS mtpost,
                  ncpre, ncpost, ntpre, ntpost
                FROM a)
          SELECT 'arm_0' AS arm_control, 'arm_1' AS arm_treat,
                 CASE WHEN ncpre > 0 THEN round(mcpre, 6) END AS mean_c_pre,
                 CASE WHEN ncpost > 0 THEN round(mcpost, 6) END AS mean_c_post,
                 CASE WHEN ntpre > 0 THEN round(mtpre, 6) END AS mean_t_pre,
                 CASE WHEN ntpost > 0 THEN round(mtpost, 6) END AS mean_t_post,
                 CASE WHEN ncpre > 0 AND ncpost > 0 AND ntpre > 0 AND ntpost > 0
                      THEN round((mtpost - mtpre) - (mcpost - mcpre), 6)
                 END AS did
          FROM m""",
    // Exact long-second gaps over the same total order; percentile ==
    // quantile_cont replay.
    "q242_interevent" ->
      """WITH e AS (SELECT event_type AS t, user_id, event_id, ts,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
                 FROM events),
          g AS (SELECT t,
                  sec - lag(sec) OVER (PARTITION BY t, user_id
                    ORDER BY ts, event_id) AS gap
                FROM e)
          SELECT t AS event_type, count(*) AS n_gaps,
                 round(CAST(sum(CAST(gap AS HUGEINT)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) AS mean_seconds,
                 round(quantile_cont(gap, 0.5), 6) AS p50_seconds,
                 round(quantile_cont(gap, 0.9), 6) AS p90_seconds
          FROM g WHERE gap IS NOT NULL GROUP BY t ORDER BY t""",
    // Monday-truncated cohorts in both engines; integer week ages,
    // micro-unit value sums.
    "q243_cohort_ltv" ->
      """WITH w AS (SELECT user_id, ts, value,
                      CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS DATE) AS cw
                 FROM events),
          r AS (SELECT cw,
                  CAST(floor(date_diff('day', cw, CAST(date_trunc('day', ts) AS DATE)) / 7) AS BIGINT) AS age,
                  user_id, value
                FROM w)
          SELECT cw AS cohort_week, age AS age_week,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                 round(CAST(sum(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE)
                       / 1000000.0, 6) AS value
          FROM r GROUP BY 1, 2 ORDER BY 1, 2""",
    // Same IGNORE-NULLS bookend scans over the (ts, event_id) order.
    "q235_attribution" ->
      """WITH w AS (SELECT user_id, event_type, value,
                      first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f,
                      last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
                 FROM events),
          c AS (SELECT f, l, CAST(value AS DECIMAL(18,6)) AS v
                FROM w WHERE event_type = 'purchase'),
          bf AS (SELECT f AS channel, count(*) AS n_first, sum(v) AS vf
                 FROM c WHERE f IS NOT NULL GROUP BY f),
          bl AS (SELECT l AS channel, count(*) AS n_last, sum(v) AS vl
                 FROM c WHERE l IS NOT NULL GROUP BY l)
          SELECT coalesce(bf.channel, bl.channel) AS channel,
                 coalesce(n_first, 0) AS n_first,
                 round(CAST(coalesce(vf, 0) AS DOUBLE), 6) AS value_first,
                 coalesce(n_last, 0) AS n_last,
                 round(CAST(coalesce(vl, 0) AS DOUBLE), 6) AS value_last
          FROM bf FULL OUTER JOIN bl ON bf.channel = bl.channel
          ORDER BY channel""",
    // First-start via one grouped scan; completion is a conditional min
    // in the same user grouping. percentile == quantile_cont replay.
    "q236_time_to_convert" ->
      """WITH s AS (SELECT user_id,
                      min(CASE WHEN event_type = 'view' THEN ts END) AS st
                 FROM events GROUP BY user_id),
          p AS (SELECT e.user_id, min(e.ts) AS en
                FROM events e JOIN s ON e.user_id = s.user_id
                WHERE e.event_type = 'purchase' AND e.ts >= s.st
                GROUP BY e.user_id),
          d AS (SELECT CAST(floor(epoch(en)) - floor(epoch(st)) AS BIGINT) AS delta
                FROM s LEFT JOIN p USING (user_id) WHERE st IS NOT NULL)
          SELECT count(*) AS n_started,
                 CAST(sum(CASE WHEN delta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                 round(quantile_cont(delta, 0.5), 6) AS p50_seconds,
                 round(quantile_cont(delta, 0.9), 6) AS p90_seconds
          FROM d""",
    // q40's session CTE + ordered string_agg of the first 3 types.
    "q224_session_paths" ->
      """WITH s AS (SELECT event_id, user_id, ts, event_type,
                      CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
                 FROM (SELECT event_id, user_id, ts, event_type,
                         CASE WHEN prev IS NULL OR floor(epoch(ts)) - floor(epoch(prev)) > 1800
                              THEN 1 ELSE 0 END AS ns
                       FROM (SELECT event_id, user_id, ts, event_type,
                               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                             FROM events))),
          r AS (SELECT user_id, sess, event_type,
                  row_number() OVER (PARTITION BY user_id, sess
                    ORDER BY ts, event_id) AS rn
                FROM s),
          p AS (SELECT user_id, sess,
                  string_agg(event_type, '>' ORDER BY rn) AS path
                FROM r WHERE rn <= 3 GROUP BY user_id, sess)
          SELECT path, count(*) AS n_sessions
          FROM p GROUP BY path
          ORDER BY n_sessions DESC, path LIMIT 20""",
    // q136's grid; interpolation blends the IGNORE-NULLS neighbor scans
    // with the engine's exact double shapes.
    "q225_resample_interp" ->
      """WITH b AS (SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
                      round(sum(CAST(round(value * 1000000) AS BIGINT)) / (count(*) * 1000000.0), 6) AS avg_v,
                      count(*) AS n
                    FROM events GROUP BY 1, 2),
          bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM b),
          grid AS (SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
                   FROM (SELECT DISTINCT event_type FROM b) CROSS JOIN bounds),
          j AS (SELECT event_type, b, avg_v, coalesce(n, 0) AS n_events,
                  last_value(avg_v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
                    ROWS UNBOUNDED PRECEDING) AS pv,
                  last_value(CASE WHEN avg_v IS NOT NULL THEN b END IGNORE NULLS)
                    OVER (PARTITION BY event_type ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS pb,
                  first_value(avg_v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                  first_value(CASE WHEN avg_v IS NOT NULL THEN b END IGNORE NULLS)
                    OVER (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
                FROM grid LEFT JOIN b USING (event_type, b))
          SELECT event_type, strftime(make_timestamp(b * 1000000), '%Y-%m-%d %H:%M:%S') AS bucket,
                 n_events,
                 CASE WHEN avg_v IS NOT NULL THEN avg_v
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE round(pv + (nv - pv) * CAST(b - pb AS DOUBLE)
                                 / CAST(nb - pb AS DOUBLE), 6)
                 END AS value
          FROM j ORDER BY event_type, b""",
    // session_window replay: gaps-and-islands with the built-in's exact
    // semantics — new session when ts − prev >= gap (half-open window),
    // end = last event + gap.
    "q307_session_window" ->
      """WITH l AS (SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS ns
             FROM events),
          s AS (SELECT user_id, ts, value,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM l)
          SELECT user_id, min(ts) AS session_start,
            max(ts) + INTERVAL 30 MINUTE AS session_end,
            count(*) AS n_events,
            round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
          FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "q40_sessionize" ->
      """SELECT event_id, user_id, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM (SELECT event_id, user_id, ts,
                  CASE WHEN prev IS NULL OR floor(epoch(ts)) - floor(epoch(prev)) > 1800 THEN 1 ELSE 0 END AS ns
                FROM (SELECT event_id, user_id, ts,
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                      FROM events))
          ORDER BY event_id""",
    "q41_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q42_dp_count" ->
      s"""SELECT event_type, ${lapSql("c", "event_type", "1.0")} AS dp_count
          FROM (SELECT event_type, count(*) AS c, ${uSql("event_type", 42L)} AS u
                FROM events GROUP BY event_type)
          ORDER BY event_type""",
    // k-RR replay: same ordinal domain, hash coins, report rule, and
    // integer-exact debias (all IEEE ops on exactly-representable ints).
    "q256_rr_frequency" -> {
      val ph = (x: String) => s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
      s"""WITH dom AS (SELECT event_type,
                 CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS idx
               FROM (SELECT DISTINCT event_type FROM events)),
          kk AS (SELECT count(*) AS k FROM dom),
          r AS (SELECT d.idx AS own,
                  ${ph("'graft-rr-keep|' || event_id")} % 4 AS keep4,
                  ${ph("'graft-rr-pick|' || event_id")} % (kk.k - 1) AS pick
                FROM events e JOIN dom d USING (event_type) CROSS JOIN kk),
          rep AS (SELECT CASE WHEN keep4 < 3 THEN own
                              WHEN pick >= own THEN pick + 1
                              ELSE pick END AS idx FROM r),
          c AS (SELECT idx, CAST(count(*) AS BIGINT) AS n_reported FROM rep GROUP BY idx),
          tot AS (SELECT CAST(sum(n_reported) AS BIGINT) AS n FROM c)
          SELECT d.event_type, coalesce(c.n_reported, 0) AS n_reported,
                 round((4.0 * (kk.k - 1) * coalesce(c.n_reported, 0) - tot.n)
                       / (3.0 * (kk.k - 1) - 1.0), 6) AS n_est
          FROM dom d LEFT JOIN c USING (idx) CROSS JOIN kk CROSS JOIN tot
          ORDER BY event_type"""
    },
    "q43_dp_sum" ->
      s"""SELECT event_type, ${lapSql("sm", "event_type", "200.0 / 0.5")} AS dp_sum
          FROM (SELECT event_type, sum(greatest(least(value, 200.0), 0.0)) AS sm, ${uSql("event_type", 7L)} AS u
                FROM events GROUP BY event_type)
          ORDER BY event_type""",
    // Candidate stats over DISTINCT values; Gumbel noise keyed on the
    // %.6f render of the value (cross-engine-stable, unlike a raw
    // double->varchar cast); scores ranked after a 6 dp round, ties to
    // the smallest value.
    "q165_dp_median_exp" ->
      s"""WITH c AS (SELECT event_type, value AS v, count(*) AS c
                 FROM events GROUP BY event_type, value),
          s AS (SELECT event_type, v, c,
                  coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt,
                  sum(c) OVER (PARTITION BY event_type) AS n
                FROM c),
          sc AS (SELECT event_type, v,
                   round(0.5 * (-abs(lt - (n - lt - c)))
                     - ln(-ln((CAST('0x' || substr(md5(event_type || '|' || printf('%.6f', v) || '|' || '5' || '|' || 'em'), 1, 15) AS BIGINT) % 1000000 + 0.5) / 1000000.0)), 6) AS score
                 FROM s)
          SELECT event_type, v AS dp_median
          FROM (SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type ORDER BY score DESC, v) AS rn
                FROM sc)
          WHERE rn = 1 ORDER BY event_type""",
    // Box-Muller over the same md5-uniform construction, keys suffixed
    // |g1 / |g2; σ inlined from the Scala-side analytic bound so the two
    // engines noise with the SAME literal.
    // Stability histogram: Laplace release replayed per (type, bucket),
    // thresholded on the 6 dp-rounded value at τ = 1 + ln(1/(2δ))/ε
    // = 14.122363 (ε=1, δ=1e-6, rounded like the release itself).
    "q170_dp_histogram" ->
      s"""WITH g AS (SELECT event_type, CAST(floor(value / 20) AS BIGINT) AS bucket,
                       count(*) AS c
                     FROM events GROUP BY event_type, CAST(floor(value / 20) AS BIGINT)),
          n AS (SELECT event_type, bucket, c,
                  ${uSql("event_type || '|' || CAST(bucket AS VARCHAR)", 11L)} AS u
                FROM g),
          r AS (SELECT event_type, bucket, ${lapSql("c", "unused", "1.0")} AS dp_count FROM n)
          SELECT event_type, bucket, dp_count FROM r
          WHERE dp_count >= 14.122363
          ORDER BY event_type, bucket""",
    // Shared deterministic planes (q65's construction, 1 table x 6
    // planes); cells via the 6dp-rounded cosine sign; then q169's
    // smoothed micro-unit PSI arithmetic with nBins = 64.
    "q183_embedding_drift" ->
      s"""WITH pl AS (SELECT b.range AS b,
                   list(CAST('0x' || substr(md5('graft-drift|0|' || b.range || '|' || j.range), 1, 15) AS BIGINT)
                        / 576460752303423488.0 - 1.0 ORDER BY j.range) AS w
                 FROM range(6) b, range(64) j GROUP BY b.range),
          u AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  CASE WHEN label < 5 THEN 0 ELSE 1 END AS side
                FROM embeddings),
          cl AS (SELECT u.vec_id, u.side,
                   CAST(sum(CASE WHEN round(list_cosine_similarity(u.v, pl.w), 6) >= 0
                                 THEN CAST(1 AS BIGINT) << pl.b ELSE 0 END) AS BIGINT) AS bin
                 FROM u CROSS JOIN pl GROUP BY u.vec_id, u.side),
          c AS (SELECT bin,
                  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS count_a,
                  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS count_b
                FROM cl GROUP BY bin),
          t AS (SELECT bin, count_a, count_b,
                  CAST(sum(count_a) OVER () AS BIGINT) AS na,
                  CAST(sum(count_b) OVER () AS BIGINT) AS nb
                FROM c),
          m AS (SELECT bin, count_a, count_b,
                  (CAST(round(ln(CAST(count_a * 2 + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                 - CAST(round(ln(CAST(count_b * 2 + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                 - CAST(round(ln(CAST(na * 2 + 64 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                 + CAST(round(ln(CAST(nb * 2 + 64 AS DOUBLE)) * 1e6, 0) AS BIGINT)) AS lnr,
                  CAST(count_a * 2 + 1 AS DOUBLE) / CAST(na * 2 + 64 AS DOUBLE) AS pa,
                  CAST(count_b * 2 + 1 AS DOUBLE) / CAST(nb * 2 + 64 AS DOUBLE) AS pb
                FROM t)
          SELECT bin, count_a, count_b,
                 CAST(round((pa - pb) * CAST(lnr AS DOUBLE), 0) AS BIGINT) AS term_micro,
                 CAST(sum(CAST(round((pa - pb) * CAST(lnr AS DOUBLE), 0) AS BIGINT)) OVER () AS BIGINT) AS psi_micro
          FROM m ORDER BY bin""",
    // Exact wide-integer sums (HUGEINT here, decimal(38) engine-side);
    // the only FP steps are the final casts and divisions, shape-matched.
    "q178_group_ols" ->
      """WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
                 CAST(round(value * 1e6, 0) AS BIGINT) AS y
               FROM events),
          a AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
                FROM e GROUP BY event_type),
          m AS (SELECT event_type, n,
                  n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
                  n * syy - sy * sy AS deny, sx, sy
                FROM a)
          SELECT event_type, CAST(n AS BIGINT) AS n,
                 CASE WHEN den <> 0
                      THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1e6, 6) END AS slope,
                 CASE WHEN den <> 0
                      THEN round(CAST(sy AS DOUBLE) / (n * 1e6)
                        - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1e6
                          * (CAST(sx AS DOUBLE) / n), 6) END AS intercept,
                 CASE WHEN den <> 0 AND deny <> 0
                      THEN round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                        / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)), 6) END AS r2
          FROM m ORDER BY event_type""",
    // SVT transcript replay: margin rounds to 6 dp before the sign
    // test; the halting prefix is the same running-⊤ window.
    "q172_dp_svt" ->
      s"""WITH q AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
                     FROM events GROUP BY strftime(ts, '%Y-%m-%d')),
          d AS (SELECT day, n,
                  ${gaussUSql("day", "17|svt")} AS uq,
                  ${uSql("'svt-t'", 17L)} AS ut
                FROM q),
          m AS (SELECT day,
                  round((n + (-(12.0) * sign(uq - 0.5) * ln(1 - 2 * abs(uq - 0.5))))
                      - (340.0 + (-(2.0) * sign(ut - 0.5) * ln(1 - 2 * abs(ut - 0.5)))), 6) AS margin
                FROM d),
          s AS (SELECT day, CASE WHEN margin >= 0 THEN 1 ELSE 0 END AS above,
                  coalesce(sum(CASE WHEN margin >= 0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
                FROM m)
          SELECT day, CAST(above AS BIGINT) AS above FROM s
          WHERE prior < 3 ORDER BY day""",
    "q162_dp_count_gauss" ->
      s"""SELECT event_type,
                round(c + ${graft.ops.DifferentialPrivacy.gaussianSigma(1.0, 0.8, 1e-6)}
                        * sqrt(-2 * ln(u1)) * cos(2 * pi() * u2), 6) AS dp_count
          FROM (SELECT event_type, count(*) AS c,
                  ${gaussUSql("event_type", "13|g1")} AS u1,
                  ${gaussUSql("event_type", "13|g2")} AS u2
                FROM events GROUP BY event_type)
          ORDER BY event_type""",
    // Byte-signal aHash replay (ASCII corpus: ascii(char) == payload
    // byte; all docs non-empty). Bits are the integer cross-comparison
    // cellsum*N > total*cellcount — no floating-point means; nibbles
    // assemble high-bit-first into 16 lowercase hex chars.
    "q171_phash" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
          pos AS (SELECT doc_id, u.i AS i, ascii(substr(text, CAST(u.i AS INT), 1)) AS bv,
                    CAST((u.i - 1) * 64 // n AS INT) AS cell
                  FROM d, UNNEST(range(1, n + 1)) u(i)),
          cells AS (SELECT doc_id, cell, CAST(sum(bv) AS BIGINT) AS cs,
                      CAST(count(*) AS BIGINT) AS cc
                    FROM pos GROUP BY doc_id, cell),
          tot AS (SELECT doc_id, CAST(sum(cs) AS BIGINT) AS s,
                    CAST(sum(cc) AS BIGINT) AS nn
                  FROM cells GROUP BY doc_id),
          bits AS (SELECT t.doc_id, g.cell,
                     CASE WHEN c.cc IS NOT NULL AND c.cs * t.nn > t.s * c.cc
                          THEN 1 ELSE 0 END AS b
                   FROM tot t
                   CROSS JOIN (SELECT unnest(range(0, 64)) AS cell) g
                   LEFT JOIN cells c ON c.doc_id = t.doc_id AND c.cell = g.cell),
          nib AS (SELECT doc_id, cell // 4 AS j,
                    sum(b * CASE cell % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                          WHEN 2 THEN 2 ELSE 1 END) AS v
                  FROM bits GROUP BY doc_id, cell // 4)
          SELECT doc_id,
                 (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
                 lower(string_agg(to_hex(CAST(v AS BIGINT)), '' ORDER BY j)) AS phash
          FROM nib GROUP BY doc_id ORDER BY doc_id""",
    // DCT-hash replay: same chunking as q171, then integer chunk means
    // (256*sum // count), a 64-point DCT via the SAME scaled-integer
    // basis the engine uses (4096 literals, k*64+n indexed), lower
    // median of the 63 AC coefficients, bits > median.
    "q186_dct_phash" -> {
      val flat = (0 until 64).flatMap(k =>
        (0 until 64).map(n => graft.ops.Multimodal.Dct64(k)(n)))
        .mkString("[", ",", "]")
      s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
          pos AS (SELECT doc_id, u.i AS i, ascii(substr(text, CAST(u.i AS INT), 1)) AS bv,
                    CAST((u.i - 1) * 64 // n AS INT) AS cell
                  FROM d, UNNEST(range(1, n + 1)) u(i)),
          cells AS (SELECT doc_id, cell, CAST(sum(bv) AS BIGINT) AS cs,
                      CAST(count(*) AS BIGINT) AS cc
                    FROM pos GROUP BY doc_id, cell),
          m AS (SELECT dd.doc_id, g.cell,
                  CASE WHEN c.cc IS NOT NULL THEN 256 * c.cs // c.cc ELSE 0 END AS mv
                FROM (SELECT DISTINCT doc_id FROM cells) dd
                CROSS JOIN (SELECT unnest(range(0, 64)) AS cell) g
                LEFT JOIN cells c ON c.doc_id = dd.doc_id AND c.cell = g.cell),
          tab AS (SELECT CAST(u.i - 1 AS INT) AS idx, arr[CAST(u.i AS INT)] AS tv
                  FROM (SELECT $flat AS arr), UNNEST(range(1, 4097)) u(i)),
          coef AS (SELECT m.doc_id, t.idx // 64 AS k,
                     CAST(sum(m.mv * t.tv) AS BIGINT) AS cv
                   FROM m JOIN tab t ON t.idx % 64 = m.cell
                   GROUP BY m.doc_id, t.idx // 64),
          med AS (SELECT doc_id, cv AS med
                  FROM (SELECT doc_id, cv,
                          row_number() OVER (PARTITION BY doc_id ORDER BY cv) AS rn
                        FROM coef WHERE k >= 1)
                  WHERE rn = 32),
          bits AS (SELECT c.doc_id, c.k AS cell,
                     CASE WHEN c.cv > med.med THEN 1 ELSE 0 END AS b
                   FROM coef c JOIN med ON med.doc_id = c.doc_id),
          nib AS (SELECT doc_id, cell // 4 AS j,
                    sum(b * CASE cell % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                          WHEN 2 THEN 2 ELSE 1 END) AS v
                  FROM bits GROUP BY doc_id, cell // 4)
          SELECT doc_id,
                 (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
                 lower(string_agg(to_hex(CAST(v AS BIGINT)), '' ORDER BY j)) AS phash
          FROM nib GROUP BY doc_id ORDER BY doc_id"""
    },
    "q44_media_stats" ->
      """SELECT doc_id,
                (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS payload_md5
          FROM documents ORDER BY doc_id""",
    // ASCII corpus: char and byte offsets coincide (same equivalence q44
    // relies on for md5(text) vs md5 of the utf-8 payload).
    // keyframes replay: q81's frame carve (stride 1), the q171 byte-path
    // aHash PER FRAME (integer cross-comparisons, nibble hex), lag +
    // two-half Hamming (8-hex halves keep the BIGINT cast positive),
    // keep frame 0 and jumps >= 16 bits.
    "q298_keyframes" ->
      """WITH m AS (SELECT doc_id, text,
                  CAST(ceil(length(text) / 8.0) AS INT) AS flen FROM documents),
          f AS (SELECT doc_id, k, substr(text, k * flen + 1, flen) AS frame
                FROM m, (SELECT unnest(range(8)) AS k)
                WHERE length(substr(text, k * flen + 1, flen)) > 0),
          pos AS (SELECT doc_id, k, u.i AS i,
                    ascii(substr(frame, CAST(u.i AS INT), 1)) AS bv,
                    CAST((u.i - 1) * 64 // length(frame) AS INT) AS cell
                  FROM f, UNNEST(range(1, length(frame) + 1)) u(i)),
          cells AS (SELECT doc_id, k, cell, CAST(sum(bv) AS BIGINT) AS cs,
                      CAST(count(*) AS BIGINT) AS cc
                    FROM pos GROUP BY doc_id, k, cell),
          tot AS (SELECT doc_id, k, CAST(sum(cs) AS BIGINT) AS s,
                    CAST(sum(cc) AS BIGINT) AS nn
                  FROM cells GROUP BY doc_id, k),
          bits AS (SELECT t.doc_id, t.k, g.cell,
                     CASE WHEN c.cc IS NOT NULL AND c.cs * t.nn > t.s * c.cc
                          THEN 1 ELSE 0 END AS b
                   FROM tot t
                   CROSS JOIN (SELECT unnest(range(0, 64)) AS cell) g
                   LEFT JOIN cells c ON c.doc_id = t.doc_id AND c.k = t.k
                     AND c.cell = g.cell),
          nib AS (SELECT doc_id, k, cell // 4 AS j,
                    sum(b * CASE cell % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                          WHEN 2 THEN 2 ELSE 1 END) AS v
                  FROM bits GROUP BY doc_id, k, cell // 4),
          ph AS (SELECT doc_id, k,
                   lower(string_agg(to_hex(CAST(v AS BIGINT)), '' ORDER BY j)) AS phash
                 FROM nib GROUP BY doc_id, k),
          lagd AS (SELECT doc_id, k, phash,
                     lag(phash) OVER (PARTITION BY doc_id ORDER BY k) AS prev
                   FROM ph),
          ham AS (SELECT doc_id, k, phash, prev,
                    CASE WHEN prev IS NULL THEN NULL ELSE
                      bit_count(xor(CAST('0x' || substr(phash, 1, 8) AS BIGINT),
                                    CAST('0x' || substr(prev, 1, 8) AS BIGINT)))
                    + bit_count(xor(CAST('0x' || substr(phash, 9, 8) AS BIGINT),
                                    CAST('0x' || substr(prev, 9, 8) AS BIGINT)))
                    END AS h
                  FROM lagd)
          SELECT doc_id,
            (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
            CAST(k AS BIGINT) AS frame_idx, phash,
            CAST(h AS BIGINT) AS hamming_prev
          FROM ham WHERE prev IS NULL OR h >= 16
          ORDER BY doc_id, frame_idx""",
    "q81_frame_sample" ->
      """WITH m AS (SELECT doc_id,
                  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
                  text, CAST(ceil(length(text) / 8.0) AS INT) AS flen FROM documents),
          f AS (SELECT doc_id, media_type, k, substr(text, k * flen + 1, flen) AS frame
                FROM m, (SELECT unnest([0, 2, 4, 6]) AS k))
          SELECT doc_id, media_type, CAST(k AS BIGINT) AS frame_idx,
                 CAST(length(frame) AS BIGINT) AS frame_bytes, md5(frame) AS frame_md5
          FROM f WHERE length(frame) > 0 ORDER BY doc_id, frame_idx""")
}
