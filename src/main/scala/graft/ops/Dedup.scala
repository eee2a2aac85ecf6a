package graft.ops

import graft.functions.GraftFunctions
import graft.functions.PortableHash.{P, phash, phashMod}
import graft.util.Truncate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Extension surface per SURVEY §7.2 step 7
  * (the reference itself has no dedup — its pipeline is census microdata).
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup groups on the 128-bit md5 of the text, never the full
  *    text, so the shuffle key is 16 bytes/row regardless of document size
  *    (128 bits, not 60 — see [[exact]] for the collision rationale).
  *  - MinHash signatures are computed per-row with higher-order array
  *    expressions (no explode, no shuffle, codegen'd); only the tiny
  *    (doc_id, band_hash) pairs shuffle for the LSH bucket join. Candidate
  *    verification joins token SETS only for candidate pairs — the classic
  *    generate-candidates-then-verify topology that keeps the pairwise
  *    stage O(candidates), not O(n²).
  *  - SimHash is likewise per-row; near-dup pairing buckets on bit-bands.
  *  - All hashes are portable (md5-derived, see PortableHash) so DuckDB
  *    oracles can replay every stage exactly.
  */
object Dedup {

  /** Keep one representative (min id) per exact text duplicate class.
    * Groups on the full 128-bit md5 (16-byte shuffle key): at
    * billions-of-docs scale a 60-bit key would see birthday collisions
    * (~n²/2⁶¹) and silently drop distinct documents; 128 bits keep the
    * collision probability negligible at any realistic corpus size. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("string")).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__h")

  /** Template dedup: group documents identical UP TO DIGIT RUNS (every
    * [0-9]+ run canonicalizes to a single '0') — the crawl pathology
    * exact dedup misses and near-dup over-pays for: order-confirmation /
    * profile / listing pages that differ only in ids, counts, dates, or
    * prices. Returns one row per doc in a template class of >= 2 members:
    * (idCol, template_id = min member id, n_members). Classes of one are
    * not templates and are dropped.
    *
    * Scale: one exchange on the 128-bit canonical-text md5 (same
    * collision reasoning as [[exact]]); class stats are windows over
    * that single exchange — no second shuffle, no text payload past the
    * hash. */
  def templateDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    df.select(col(idCol),
        md5(regexp_replace(col(textCol), "[0-9]+", "0")).as("__h"))
      .withColumn("template_id", min(col(idCol)).over(w))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("n_members") >= 2)
      .select(col(idCol), col("template_id"), col("n_members"))
  }

  // ---- MinHash ----------------------------------------------------------

  /** Universal-hash family h_j(x) = (a_j * x + b_j) mod P over [0, P).
    * Single source of truth is the compiled kernel's constants
    * (TextHashImpl.Dedup16) — the declarative and native paths MUST agree
    * or the LSH join silently produces wrong candidates. */
  val NumHashes: Int = graft.functions.TextHashImpl.Dedup16.NumHashes
  val BandRows = 4 // 4 bands x 4 rows
  val HashA: Seq[Long] = graft.functions.TextHashImpl.Dedup16.HashA.toSeq
  val HashB: Seq[Long] = graft.functions.TextHashImpl.Dedup16.HashB.toSeq

  /** MinHash signature (array of NumHashes longs) from pre-hashed
    * elements: sig[j] = min over elements of h_j(hash). Arithmetic only —
    * md5 already paid once; pure expression tree, no shuffle.
    *
    * Callers hash word n-gram shingles, NOT unigram token sets: over a
    * small vocabulary every document covers most unigrams, so unigram
    * MinHash collides on everything and the LSH candidate set degenerates
    * to O(n²). Shingle space grows as vocab^n and keeps unrelated
    * documents apart. IMPORTANT for performance: pass an ATTRIBUTE (a column
    * materialized by an earlier projection), not an inline expression —
    * higher-order lambdas are interpreted, and any non-attribute child is
    * re-evaluated once per outer-lambda element (16× here). */
  def minhashFromHashes(hashes: Column): Column = {
    val aArr = array(HashA.map(lit): _*)
    val bArr = array(HashB.map(lit): _*)
    transform(sequence(lit(0), lit(NumHashes - 1)), j =>
      array_min(transform(hashes, h =>
        pmod(element_at(aArr, j + 1) * h + element_at(bArr, j + 1), lit(P)))))
  }

  /** Explode a signature into (band_idx, band_key) rows: band key = md5 of
    * the comma-joined band slice. Docs sharing any band key are candidates. */
  def bands(sig: Column): Column =
    transform(sequence(lit(0), lit(NumHashes / BandRows - 1)), b =>
      struct(b.as("band_idx"),
        md5(concat_ws(",", slice(sig, b * BandRows + 1, lit(BandRows)))).as("band_key")))

  /** Exact Jaccard similarity (6 dp) of two SORTED-distinct arrays (every
    * shingle relation here — [[GraftFunctions.shinglesNative]] emits
    * TreeSet order): one compiled merge scan instead of two hash-set
    * builds, bit-identical to the builtin array_intersect/array_union form
    * (DedupSpec pins it against that form). The verify join over
    * banded candidates is the near-dup pipeline's per-pair hot loop — at
    * the 10× stress the candidate surface is output-quadratic by
    * construction, so per-pair cost is the wall clock. */
  def jaccardSorted(a: Column, b: Column): Column =
    GraftFunctions.jaccardSortedNative(a, b)

  /** MinHash+LSH near-duplicate pairs: docs sharing >= 1 LSH band, verified
    * with exact token-set Jaccard >= threshold. Output (id_a, id_b, jaccard)
    * with id_a < id_b.
    *
    * Topology: per-row signature -> explode 4 band rows/doc -> self-join on
    * (band_idx, band_key) carrying ONLY (band_idx, band_key, id) -> distinct
    * candidate pairs -> join BACK to the shingle relation to fetch both
    * token sets -> verify once per pair. The band join is the only O(data)
    * shuffle and its rows are ~40 bytes regardless of document size; token
    * arrays enter a shuffle only on the candidate side, once per id, never
    * replicated per band.
    *
    * The two staged relations are unpersisted by a hook registered with
    * [[graft.QueryCleanup]] under the caller's query scope.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int, threshold: Double): DataFrame = {
    // Staged projections: tokens -> shingles -> element hashes -> signature.
    // Each stage materializes a column so the next stage's lambdas read an
    // attribute; collapsing them into one expression would re-split the
    // text once per shingle and re-md5 every shingle 16 times (measured
    // 60s -> ~2s at sf0.1).
    GraftFunctions.ensureRegistered(df.sparkSession)
    // Shingle relation (id, token set) — banding consumes it to build
    // signatures; the verification join-backs re-read it, so the band
    // join itself stays payload-free. The relation is PERSISTED for the
    // three consumers (tokenize+md5-shingle every document 3× dominated
    // the 10× stress leg).
    val toks = shingleToks(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The band relation is ALSO staged (r16): both sides of the band
    // self-join read it, so unstaged the per-shingle hash + minhash
    // signature kernel would run twice from the toks cache. Band rows
    // are four small columns per (doc, band) — far lighter than toks.
    val banded = bandedKeys(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_a"),
        col("__sz").as("__sza"))
      .join(banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_b"),
        col("__sz").as("__szb")), Seq("__bidx", "__bkey"))
      .filter(col("id_a") < col("id_b") &&
        sizeRatioOk(col("__sza"), col("__szb"), threshold))
      .select("id_a", "id_b")
      .distinct()
    val pairs = cand
      .join(toks.select(col("__id").as("id_a"), col("__toks").as("__toks_a")), Seq("id_a"))
      .join(toks.select(col("__id").as("id_b"), col("__toks").as("__toks_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("__toks_a"), col("__toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    graft.QueryCleanup.register(() => { toks.unpersist(); banded.unpersist(); () })
    pairs
  }

  /** Shingle relation (__id, __toks) — the staged projection feeding both
    * banding and the verification join-backs (see [[minhashLsh]]'s
    * recompute-for-shuffle note). */
  private def shingleToks(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int): DataFrame =
    df.withColumn("__tk", TextAnalysis.tokens(col(textCol)))
      .withColumn("__toks", GraftFunctions.shinglesNative(col("__tk"), lit(shingleN)))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol).as("__id"), col("__toks"))

  /** Exploded LSH band keys (__id, __bidx, __bkey) from the minhash
    * signature of a shingle relation. */
  /** BANDING-recall audit of the MinHash+LSH tier — [[minhashLsh]]'s
    * probabilistic stage measured against exact ground truth, the dedup
    * twin of the ANN tier's recall audit: how many truly-near-duplicate
    * pairs (exact n-gram Jaccard ≥ threshold, the [[ngramJaccardPairs]]
    * inverted-index set) ever share an LSH band? A missed pair is one
    * the full [[minhashLsh]] pipeline can NEVER emit no matter how the
    * verification stage is tuned — banding is its candidate ceiling —
    * so a sagging band_recall is the signal to re-band (more bands,
    * shorter rows) or re-shingle BEFORE the dedup rate silently drops.
    * The truth side carries `partitionCols` scoping (exact all-pairs
    * needs the same blocking discipline as q35); the band side is the
    * corpus-wide tier as deployed. Both sides are deterministic, so the
    * audit hash-checks externally. Output: one row
    * (n_true, n_caught, n_missed, band_recall 6 dp).
    *
    * Scale: truth is the inverted-index join (blocked, df-bounded by
    * `partitionCols`); the band side re-runs [[minhashLsh]]'s only
    * O(data) shuffle; the audit join moves id pairs only. */
  def lshBandRecallAudit(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, threshold: Double,
                         partitionCols: Seq[String]): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val truth = ngramJaccardPairs(df, idCol, textCol, shingleN, threshold,
        partitionCols)
      .select("id_a", "id_b")
    val toks = shingleToks(df, idCol, textCol, shingleN)
    // staged: both self-join sides read the band relation (r16 —
    // minhashLsh's staging rationale)
    val banded = bandedKeys(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { banded.unpersist(); () })
    // the tier's candidate surface, minus the size-ratio gate: the gate
    // is exactness-preserving (a true pair always passes it), so the
    // caught count is identical with or without it — omit it and the
    // audit measures pure BANDING recall
    val cand = banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_a"))
      .join(banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_b")),
        Seq("__bidx", "__bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nCaught = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    nTrue.crossJoin(nCaught)
      .select(col("n_true"), col("n_caught"),
        (col("n_true") - col("n_caught")).as("n_missed"),
        when(col("n_true") > 0,
          round(col("n_caught").cast("double") / col("n_true").cast("double"), 6))
          .as("band_recall"))
  }

  /** BANDING-precision audit — the COST-side twin of
    * [[lshBandRecallAudit]]: of all pairs the LSH bands ever collide,
    * what fraction verifies at the exact-Jaccard threshold? Recall
    * bounds what the tier can FIND; precision prices what the verify
    * stage must PAY — every non-verifying candidate is two shingle-array
    * fetches and an exact intersection that produce nothing, and at
    * corpus scale the verification join IS the pipeline's dominant cost
    * after banding. A sagging band_precision (hot natural bands, a
    * shingle n too small for the corpus) is the signal to re-band or
    * re-shingle for COST, the same way sagging recall is the signal for
    * COVERAGE. Measured on the raw band-collision surface (no size-ratio
    * gate) so the number is a property of the banding itself; the
    * deployed [[minhashLsh]] pays at most this (its PPJoin size gate
    * only prunes non-verifying pairs). Deterministic both sides — same
    * hash/signature/band protocol as q36 — so the audit hash-checks.
    * Output: one row (n_candidates, n_verified, n_wasted,
    * band_precision 6 dp).
    *
    * Scale: the band self-join is [[minhashLsh]]'s own candidate stage
    * (id pairs only); the verify side joins the bounded candidate set
    * back to shingle arrays — exactly the work it is pricing. */
  def lshBandPrecisionAudit(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    // staged (r16): toks feeds banding + two verify join-backs; banded
    // feeds both self-join sides; cand feeds the verify branch AND the
    // candidate count — unstaged, each extra reference re-runs the whole
    // chain beneath it (minhashLsh's staging rationale)
    val toks = shingleToks(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandedKeys(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_a"))
      .join(banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_b")),
        Seq("__bidx", "__bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => {
      toks.unpersist(); banded.unpersist(); cand.unpersist()
    })
    val verified = cand
      .join(toks.select(col("__id").as("id_a"), col("__toks").as("__toks_a")),
        Seq("id_a"))
      .join(toks.select(col("__id").as("id_b"), col("__toks").as("__toks_b")),
        Seq("id_b"))
      .filter(jaccardSorted(col("__toks_a"), col("__toks_b")) >= threshold)
      .agg(count(lit(1)).as("n_verified"))
    cand.agg(count(lit(1)).as("n_candidates")).crossJoin(verified)
      .select(col("n_candidates"), col("n_verified"),
        (col("n_candidates") - col("n_verified")).as("n_wasted"),
        when(col("n_candidates") > 0,
          round(col("n_verified").cast("double")
            / col("n_candidates").cast("double"), 6))
          .as("band_precision"))
  }

  /** Dedup threshold-sensitivity CURVE — pair count (and total
    * similarity mass) at each candidate Jaccard threshold in ONE pass:
    * the tuning table for the dedup aggressiveness knob, the way
    * [[graft.ops.Similarity.ivfRecallCurve]] tunes `nprobe` and
    * [[graft.ops.Graph.pageRankConvergence]] tunes `iterations`.
    * Raising the threshold from 0.3 to 0.7 changes how much of the
    * corpus a near-dup pass removes — this query shows the whole
    * trade-off before anyone commits to a threshold, from ONE exact
    * verification pass: the banded candidate pairs and their exact
    * Jaccard are computed once, then counted against a literal
    * broadcast threshold grid. Per threshold: n_pairs (candidates at
    * or above it) and sum_jaccard_micro (their exact 6-dp similarity
    * mass as longs — n_pairs and the mean similarity in one number).
    *
    * Measured on the raw band-collision surface (the tier's candidate
    * ceiling, same as [[lshBandPrecisionAudit]]); thresholds are
    * micro-units, compared as t/1e6 — an exact IEEE division both
    * engines round identically, so the curve hash-checks.
    *
    * Scale: one banding pass + one verification join (the same work a
    * single-threshold dedup already pays); the grid multiply touches
    * only the bounded candidate-pair relation. */
  def dedupThresholdCurve(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int,
                          thresholdsMicro: Seq[Long]): DataFrame = {
    require(thresholdsMicro.nonEmpty, "need at least one threshold")
    require(thresholdsMicro.forall(t => t > 0 && t <= 1000000L),
      s"thresholds $thresholdsMicro must lie in (0, 1e6]")
    GraftFunctions.ensureRegistered(df.sparkSession)
    val spark = df.sparkSession
    import spark.implicits._
    // staged (r16): toks feeds banding + two verify join-backs, banded
    // feeds both self-join sides (minhashLsh's staging rationale)
    val toks = shingleToks(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandedKeys(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { toks.unpersist(); banded.unpersist() })
    val cand = banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_a"))
      .join(banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_b")),
        Seq("__bidx", "__bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val j = cand
      .join(toks.select(col("__id").as("id_a"), col("__toks").as("__toks_a")),
        Seq("id_a"))
      .join(toks.select(col("__id").as("id_b"), col("__toks").as("__toks_b")),
        Seq("id_b"))
      .select(jaccardSorted(col("__toks_a"), col("__toks_b")).as("__j"))
    val grid = thresholdsMicro.sorted.toDF("threshold_micro")
    val hit = col("__j") >= col("threshold_micro").cast("double") / lit(1000000.0)
    j.crossJoin(broadcast(grid))
      .groupBy("threshold_micro")
      .agg(sum(when(hit, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(hit, round(col("__j") * lit(1000000.0), 0).cast("long"))
          .otherwise(0L)).as("sum_jaccard_micro"))
      .orderBy("threshold_micro")
  }

  /** Estimator-quality audit of the MinHash signature itself: for every
    * banded candidate pair, the SIGNATURE Jaccard estimate (agreeing
    * positions / 16) next to the exact shingle Jaccard and their
    * absolute error — "measure the sketch, don't trust it": a drifting
    * error distribution means the 16-hash budget (or the shingle n) no
    * longer fits the corpus, BEFORE the dedup threshold silently moves.
    * Same hashes/signature/banding as [[minhashLsh]], so the q36 oracle
    * chain replays it with one extra zip. Output: (id_a, id_b, jaccard,
    * est_jaccard, abs_err) for pairs with exact J >= threshold. */
  def minhashEstimateError(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    // staged (r16): toks feeds sigs + banding + two verify join-backs,
    // sigs feeds both estimate join sides, banded both self-join sides
    // (minhashLsh's staging rationale)
    val toks = shingleToks(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = toks
      .withColumn("__h", GraftFunctions.phashModArr(col("__toks")))
      .withColumn("__sig", GraftFunctions.minhashSigNative(col("__h")))
      .select(col("__id"), col("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandedKeys(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => {
      toks.unpersist(); sigs.unpersist(); banded.unpersist()
    })
    val cand = banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_a"),
        col("__sz").as("__sza"))
      .join(banded.select(col("__bidx"), col("__bkey"), col("__id").as("id_b"),
        col("__sz").as("__szb")), Seq("__bidx", "__bkey"))
      .filter(col("id_a") < col("id_b") &&
        sizeRatioOk(col("__sza"), col("__szb"), threshold))
      .select("id_a", "id_b")
      .distinct()
    val est = round(aggregate(
      zip_with(col("__sig_a"), col("__sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(16.0), 6)
    cand
      .join(toks.select(col("__id").as("id_a"), col("__toks").as("__toks_a")), Seq("id_a"))
      .join(toks.select(col("__id").as("id_b"), col("__toks").as("__toks_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("__toks_a"), col("__toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sig_a")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        est.as("est_jaccard"),
        round(abs(est - col("jaccard")), 6).as("abs_err"))
  }

  private def bandedKeys(toks: DataFrame): DataFrame =
    toks.withColumn("__h", GraftFunctions.phashModArr(col("__toks")))
      .withColumn("__sig", GraftFunctions.minhashSigNative(col("__h")))
      .select(col("__id"), size(col("__toks")).as("__sz"),
        explode(bands(col("__sig"))).as("__band"))
      .select(col("__id"), col("__sz"),
        col("__band.band_idx").as("__bidx"), col("__band.band_key").as("__bkey"))

  /** PPJoin length filter as a band-join candidate gate: J(a,b) ≥ t forces
    * min(|a|,|b|)/max(|a|,|b|) ≥ t, so a candidate failing the SIZE ratio
    * can never verify — drop it before the distinct/array-fetch stages.
    * Sizes ride the band rows as one long each. The margin absorbs both
    * the IEEE products here and the verify side's 6-dp rounding (a pair
    * whose round(J,6) crosses t from below must survive the gate), so the
    * output pair set is untouched — this only prunes hot natural bands
    * (common-bigram minima collide short docs with long ones; their size
    * ratio kills them here instead of after two array joins). */
  private def sizeRatioOk(sa: Column, sb: Column, threshold: Double): Column =
    least(sa, sb).cast("double") >=
      (lit(threshold) - lit(1e-6)) * greatest(sa, sb).cast("double")

  /** CROSS-corpus near-duplicate pairs: every (a-side, b-side) document
    * pair whose n-gram Jaccard clears `threshold`, found via the same
    * MinHash band topology as [[minhashLsh]] but banding each corpus
    * SEPARATELY and joining A-bands against B-bands only — the
    * incremental-crawl shape ("which incoming documents near-duplicate
    * the existing corpus") without ever generating the within-corpus
    * candidate surface. At a billion-document corpus vs a million-row
    * batch, the A×A candidates minhashLsh-on-the-union would emit
    * outnumber the A×B ones by orders of magnitude; here the batch side
    * of the band join is small enough for AQE to broadcast.
    *
    * Same hash/signature/band parameters as [[minhashLsh]], so the same
    * SQL oracle CTE replays it. Output: (id_a, id_b, jaccard), one row
    * per cross pair (no id ordering constraint — the sides are distinct
    * tables; ids may even collide across corpora). */
  def crossNearDup(a: DataFrame, b: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(a.sparkSession)
    // staged (r16): each side's shingle relation feeds its banding AND
    // its verify join-back — unstaged, the tokenize+shingle kernel runs
    // twice per side (minhashLsh's staging rationale)
    val ta = shingleToks(a, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tb = shingleToks(b, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { ta.unpersist(); tb.unpersist() })
    val cand = bandedKeys(ta)
      .withColumnRenamed("__id", "id_a").withColumnRenamed("__sz", "__sza")
      .join(bandedKeys(tb)
        .withColumnRenamed("__id", "id_b").withColumnRenamed("__sz", "__szb"),
        Seq("__bidx", "__bkey"))
      .filter(sizeRatioOk(col("__sza"), col("__szb"), threshold))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(ta.select(col("__id").as("id_a"), col("__toks").as("__toks_a")), Seq("id_a"))
      .join(tb.select(col("__id").as("id_b"), col("__toks").as("__toks_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("__toks_a"), col("__toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-split CONTAMINATION audit — train/eval leakage through
    * near-duplicates, the failure [[crossNearDup]] exists to prevent:
    * a held-out document whose near-twin sits in train is not held out,
    * and a random split of a deduplicated-but-not-perfectly corpus
    * always leaks some. Splits by the engine's own deterministic hash
    * protocol ([[graft.ops.Sampling]] — same keys in, same split out),
    * then runs the A×B-only band topology between the sides. One row:
    * split sizes, leaking pair count, distinct eval docs with a train
    * near-twin, and the eval leak rate — the number that decides
    * whether an eval set needs decontamination before anyone trusts a
    * loss curve on it.
    *
    * Scale: the band join is [[crossNearDup]]'s (A-bands × B-bands
    * only); split membership is a scan-side hash predicate, never a
    * materialized id list. */
  def splitLeakageAudit(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, threshold: Double,
                        trainFraction: Double = 0.8,
                        salt: String = "graft-sample"): DataFrame = {
    require(trainFraction > 0 && trainFraction < 1,
      s"splitLeakageAudit: trainFraction=$trainFraction outside (0,1)")
    val cut = (trainFraction * 1000000L).toLong
    val b = Sampling.bucket(col(idCol), salt)
    val train = df.filter(b < cut)
    val test = df.filter(b >= cut)
    val leaks = crossNearDup(train, test, idCol, textCol, shingleN, threshold)
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val nTest = test.agg(count(lit(1)).as("n_test"))
    val leakAgg = leaks.agg(count(lit(1)).as("n_leak_pairs"),
      countDistinct(col("id_b")).as("n_test_leaked"))
    nTrain.crossJoin(nTest).crossJoin(leakAgg)
      .select(col("n_train"), col("n_test"), col("n_leak_pairs"),
        col("n_test_leaked"),
        when(col("n_test") > 0,
          round(col("n_test_leaked").cast("double")
            / col("n_test").cast("double"), 6)).as("leak_rate"))
  }

  /** One persistent near-dup index row per document: (id, toks, bands),
    * where `bands` is the array of (band_idx, band_key) structs from the
    * doc's MinHash signature. This is the projection
    * [[graft.pipelines.NearDupIndex]] commits to a SnapshotStore table so
    * later crawl batches can probe the corpus WITHOUT recomputing its
    * shingles/signatures (the corpus-side cost [[crossNearDup]] pays on
    * every call). Keeping toks and bands in ONE row means one atomic
    * commit covers both the candidate keys and the verification sets —
    * no window where bands exist without their verifying shingles.
    *
    * Storage is O(corpus token n-grams) — the price of exact-Jaccard
    * verification at query time; the band keys alone would be 16x
    * smaller but could only emit unverified candidates. Same
    * hash/signature/band parameters as [[minhashLsh]], so the q36/q150
    * oracle CTE chain replays queries against a stored index too. */
  def nearDupIndexRows(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    shingleToks(df, idCol, textCol, shingleN)
      .withColumn("__h", GraftFunctions.phashModArr(col("__toks")))
      .withColumn("__sig", GraftFunctions.minhashSigNative(col("__h")))
      .select(col("__id").as("id"), col("__toks").as("toks"),
        bands(col("__sig")).as("bands"))
  }

  /** [[crossNearDup]] where the CORPUS side is a precomputed
    * [[nearDupIndexRows]] table (typically a SnapshotStore read): batch
    * docs are shingled/signed fresh, the stored bands explode into the
    * same (band_idx, band_key) join, and verification reads the stored
    * toks — the corpus text is never touched. Output matches
    * crossNearDup: (id_a = corpus id, id_b = batch id, jaccard). */
  def crossNearDupIndexed(index: DataFrame, batch: DataFrame, idCol: String,
                          textCol: String, shingleN: Int,
                          threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    val tb = shingleToks(batch, idCol, textCol, shingleN)
    val corpusBands = index
      .select(col("id").as("id_a"), size(col("toks")).as("__sza"),
        explode(col("bands")).as("__band"))
      .select(col("id_a"), col("__sza"),
        col("__band.band_idx").as("__bidx"), col("__band.band_key").as("__bkey"))
    val cand = corpusBands
      .join(bandedKeys(tb).select(col("__bidx"), col("__bkey"),
        col("__id").as("id_b"), col("__sz").as("__szb")),
        Seq("__bidx", "__bkey"))
      .filter(sizeRatioOk(col("__sza"), col("__szb"), threshold))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(index.select(col("id").as("id_a"), col("toks").as("__toks_a")), Seq("id_a"))
      .join(tb.select(col("__id").as("id_b"), col("__toks").as("__toks_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("__toks_a"), col("__toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- SimHash ----------------------------------------------------------

  val SimHashBits = 32

  /** 32-bit SimHash of the token multiset: bit k is 1 iff the sum over
    * tokens of ±1 (sign of bit k of the token's 60-bit hash) is positive.
    * Nested higher-order aggregate — per-row, no shuffle. */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(TextAnalysis.tokens(text), t => phash(t)))

  /** SimHash from pre-hashed tokens — pass an attribute column (see
    * minhashFromHashes note): the md5 is paid once per token instead of
    * once per (token, bit). */
  def simhashFromHashes(hashes: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(SimHashBits - 1)), k =>
        when(aggregate(hashes, lit(0L), (acc, h) =>
          acc + call_function("shiftright", h, k).bitwiseAND(lit(1L)) * 2L - 1L) > 0,
          call_function("shiftleft", lit(1L), k)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)

  /** Staged-projection simhash over a whole table (the scale path:
    * native compiled kernels, one md5 per token). */
  def withSimhash(df: DataFrame, textCol: String, out: String): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    df.withColumn("__tk", TextAnalysis.tokens(col(textCol)))
      .withColumn("__th", GraftFunctions.phashArr(col("__tk")))
      .withColumn(out, GraftFunctions.simhashNative(col("__th")))
      .drop("__tk", "__th")
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance <= maxDist, bucketed on
    * byte-bands (pigeonhole: dist <= 3 over 4 bands means >= 1 equal band;
    * maxDist >= 4 would need more/narrower bands, so it is rejected rather
    * than silently losing recall). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"simhashPairs guarantees candidates only for hamming <= 3 with 4 byte-bands; got $maxDist")
    val sh = withSimhash(df, textCol, "__simhash")
      .select(col(idCol).as("__id"), col("__simhash").as("__sh"))
    val banded = sh.select(col("__id"), col("__sh"),
      explode(transform(sequence(lit(0), lit(3)), b =>
        struct(b.as("bidx"),
          call_function("shiftright", col("__sh"), b * 8).bitwiseAND(lit(255L)).as("bkey")))).as("__b"))
      .select(col("__id"), col("__sh"),
        col("__b.bidx").as("__bidx"), col("__b.bkey").as("__bkey"))
      // staged (r16): both self-join sides read the band relation —
      // unstaged, the tokenize+simhash kernel runs twice over the corpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { banded.unpersist(); () })
    val l = banded.select(col("__bidx"), col("__bkey"),
      col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val r = banded.select(col("__bidx"), col("__bkey"),
      col("__id").as("id_b"), col("__sh").as("__sh_b"))
    l.join(r, Seq("__bidx", "__bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("__sh_a"), col("__sh_b")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Ids of training documents sharing at least one word n-gram with the
    * benchmark/eval set — the industry-standard contamination test (run
    * with n ≈ 13 on real corpora; any collision flags the doc).
    *
    * Scale: the benchmark side is tiny relative to a 100 TB train set, so
    * its distinct shingle hashes BROADCAST; contamination is then a
    * broadcast semi-join against each train partition's exploded shingles
    * — one pass over train, no train-side shuffle before the distinct on
    * the (small) flagged-id set. */
  /** Documents sharing at least one word n-gram with ANOTHER document —
    * [[contaminatedIds]]'s self-corpus form (the naive self-application
    * would mark every doc via its own shingles). The corpus-card
    * "verbatim n-gram overlap" rate rides on this set's size.
    *
    * Scale: (doc, shingle-hash) distinct pairs (8-byte keys, one
    * exchange) -> a shingle-keyed window count -> distinct docs; the
    * shingle key is uniform by construction, and nothing broadcasts. */
  def sharedShingleDocs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__s"))
    shingleHashes(docs, idCol, textCol, n, Nil)
      .select(col("__id"), explode(col("__sh")).as("__s")).distinct()
      .withColumn("__nd", count(lit(1)).over(w))
      .filter(col("__nd") >= 2)
      .select(col("__id").as(idCol)).distinct()
  }

  def contaminatedIds(train: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int): DataFrame = {
    val t = shingleHashes(train, idCol, textCol, n, Nil)
      .select(col("__id"), explode(col("__sh")).as("__s"))
    val b = shingleHashes(bench, idCol, textCol, n, Nil)
      .select(explode(col("__sh")).as("__s")).distinct()
    t.join(broadcast(b), Seq("__s"))
      .select(col("__id").as(idCol)).distinct()
  }

  /** [[contaminatedIds]] complement: the train set with every document
    * that collides with the benchmark set removed (anti-join on id). */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    train.join(contaminatedIds(train, bench, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** Incremental ingest dedup: accept only the documents of `batch` whose
    * content is neither already in `corpus` nor earlier (smaller id) in
    * the batch itself — the daily-crawl append pattern. Content identity
    * is the 128-bit md5, same rationale as [[exact]]. At 100 TB the seen
    * set is the corpus' (md5) projection — 16 bytes/doc, shuffled once on
    * the hash; production keeps that projection as a bucketed table so
    * each ingest joins co-located. Returns the accepted batch rows. */
  def ingestDedup(batch: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val seen = corpus.select(md5(col(textCol).cast("string")).as("__h")).distinct()
    val fresh = batch.withColumn("__h", md5(col(textCol).cast("string")))
      .join(seen, Seq("__h"), "left_anti")
    val firsts = fresh.groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    fresh.join(firsts, Seq(idCol), "left_semi").drop("__h")
  }

  /** Connected components over a near-duplicate PAIR list: every document
    * in a pair gets a `cluster` label = the smallest doc id transitively
    * reachable through pairs. This is the canonicalization step after
    * [[minhashLsh]]/[[ngramJaccardPairs]] — "keep one doc per near-dup
    * cluster" means keep the rows where id == cluster.
    *
    * Algorithm: min-label propagation with POINTER JUMPING (the
    * shortcutting step of Shiloach-Vishkin CC, 1982): each round every
    * node takes the min of (its label, its neighbors' labels), then
    * composes the label table with itself — label(v) <- label(label(v)).
    * The shortcut roughly doubles the distance a min has travelled per
    * round, so convergence is O(log diameter) instead of O(diameter):
    * a 200-node chain converges in ~10 rounds where plain propagation
    * needs 199. Every label value is always the id of some node in the
    * same component (self, a neighbor's label, or a component member's
    * label), labels only decrease, and at fixpoint labels are constant
    * per component — so the shortcut changes the round count, never the
    * result. Each round runs three shuffle joins on the (small) label
    * table — edges⋈labels for the neighbor min, labels⋈nbrMin for the
    * hook, and the shortcut self-join — plus a map-side-partial min
    * aggregation; the hooked table is checkpointed before the self-join
    * so both sides read materialized storage instead of recomputing the
    * hook. Labels are eagerly localCheckpointed per round to truncate
    * the growing lineage, and each superseded checkpoint is freed as soon
    * as its successor is materialized — a run holds at most three
    * label-sized tables at once.
    * EAGER: runs the iteration loop (one small job per round) at call
    * time. Output: (id, cluster) for documents appearing in >= 1 pair;
    * absent documents are implicitly their own singleton cluster.
    *
    * The RETURNED DataFrame is backed by the final checkpoint's storage,
    * held in [[Truncate.leaves]]: it is freed by the hook registered under
    * the caller's query scope, once [[graft.QueryCleanup]] drains it. The
    * edge list is freed as soon as the loop ends.
    */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                    maxIterations: Int = 20): DataFrame = {
    val edges = Truncate(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct())
    val leaves = Truncate.leaves()
    var labels = leaves.keep(Truncate(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))))
    var converged = false
    var i = 0
    try while (!converged && i < maxIterations) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("__nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("__nl").as("__nmin"))
      // Materialized per round: the shortcut self-joins this table, and
      // joining the un-checkpointed plan would recompute the
      // labels-join-nbrMin-least work on BOTH sides of the self-join —
      // one extra small checkpoint per round buys half the round's work.
      // `__old` (the pre-round label) rides along so the convergence
      // probe below can be OBSERVED during the next checkpoint's own
      // materialization instead of costing a separate join job per round
      // (r17, the kCore observed-metric pattern — one fewer serial
      // driver stall per round; the loop is round-count × job-floor
      // bound, not data bound).
      val hooked = leaves.keep(Truncate(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("__nmin"), col("label"))).as("label"))))
      // shortcut: label(v) <- min(label(v), label(label(v))). Left join —
      // every label value is a node id present in the table, but the
      // coalesce keeps the plan total rather than proving it to Catalyst.
      val (next, m) = Truncate.observed(hooked.join(
          hooked.select(col("id").as("label"), col("label").as("__ll")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__ll"), col("label"))).as("label"),
          col("__old")))(
        sum(when(col("label") =!= col("__old"), 1L).otherwise(0L)).as("changed"))
      // next is materialized: the round's hooked table and the
      // superseded labels go
      labels = leaves.supersede(next).drop("__old")
      converged = m("changed") == 0L
      i += 1
    } finally Truncate.release(edges)
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIterations pointer-jumping " +
          "rounds (covers diameters ~2^rounds) — raise maxIterations")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR — the
    * diameter-independent alternative to [[dedupClusters]]'s pointer
    * jumping, after Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * "Connected Components in MapReduce and Beyond" (ACM SoCC 2014).
    * Same contract as [[dedupClusters]]: input is a near-dup pair list,
    * output is (id, cluster) with cluster = the component's smallest id.
    *
    * Each round rewires the edge list toward local minima:
    *
    *  - LARGE-STAR: every node u connects each strictly LARGER neighbor
    *    v to m = min(neighborhood(u) + u) — emit (v, m) for v > u;
    *  - SMALL-STAR: on the canonical hi->lo orientation, every node
    *    connects its smaller neighbors and itself to the min of that set.
    *
    * Both steps preserve connectivity exactly (a rewired edge stays in
    * the component; the dropped edge is implied by the two-hop path
    * through m) and never emit self-loops, so the fixpoint — reached in
    * O(log^2 n) rounds worst case, ~2 log2 n observed, INDEPENDENT of
    * graph diameter — is a forest of min-rooted stars: the edge list IS
    * the label table. Pointer jumping needs O(log diameter) rounds of
    * three label-table joins; a star round is one map-side-partial min
    * aggregation plus one join on the (monotonically tightening) edge
    * list. Prefer this form when components may be deep chains or when
    * maxIterations blow-ups are unacceptable; prefer pointer jumping
    * when the pair graph is known shallow (LSH near-dup graphs usually
    * are — q76 vs q97 run both against the same oracle).
    *
    * Scale: every exchange carries 8-byte id pairs, no payloads. The
    * known hazard is late-round skew — a component's minimum accumulates
    * the whole component as direct neighbors — which the map-side
    * partial min absorbs on the aggregation side and AQE skew-join
    * splitting absorbs on the join side. Checkpoint discipline matches
    * [[dedupClusters]]: the edge list is re-materialized per round,
    * superseded checkpoints are freed as soon as their successor is
    * materialized, and the final edge list (the returned labels read it)
    * is freed at the caller's query cleanup.
    */
  def dedupClustersStar(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b",
                        maxIterations: Int = 50): DataFrame = {
    // Row counts are OBSERVED during each checkpoint's own
    // materialization ([[Truncate.observed]]) instead of costing a
    // separate count job per table per round; the previous round's count
    // is reused as this round's `edges.count()`.
    def observedCount(df: DataFrame): (DataFrame, Long) = {
      val (cp, m) = Truncate.observed(df)(count(lit(1)).as("n"))
      (cp, m("n"))
    }
    val leaves = Truncate.leaves()
    // canonical hi -> lo orientation, self-pairs dropped
    var (edges, edgesN) = observedCount(pairs
      .select(greatest(col(idA), col(idB)).as("hi"),
        least(col(idA), col(idB)).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct())
    leaves.keep(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // large-star over both orientations; m <= u < v keeps the output
      // canonical and loop-free by construction
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val large = leaves.keep(Truncate(nbrs.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()))
      // small-star on the canonical orientation: per hi, every smaller
      // neighbor and hi itself link to the smallest neighbor
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      val (small, smallN) = observedCount(large.join(smins, Seq("hi"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .unionByName(smins.select(col("hi"), col("m").as("lo")))
        .distinct())
      // fixpoint = the round rewired nothing: same distinct-set size and
      // an empty one-sided difference imply set equality (the exceptAll
      // probe only runs when the counts already match — near fixpoint)
      converged = smallN == edgesN &&
        small.exceptAll(edges).take(1).isEmpty
      // small is materialized: the round's large table and the
      // superseded edge list go
      edges = leaves.supersede(small)
      edgesN = smallN
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupClustersStar did not converge in $maxIterations alternating " +
          "star rounds (worst case O(log^2 n)) — raise maxIterations")
    // star forest: non-roots appear exactly once on the hi side pointing
    // at the component min; roots appear only on the lo side
    edges.select(col("hi").as("id"), col("lo").as("cluster"))
      .unionByName(
        edges.select(col("lo").as("id"), col("lo").as("cluster")).distinct())
  }

  /** C4-style PARAGRAPH-level exact dedup: split each document on
    * `sepRegex`, keep only the corpus-wide FIRST occurrence of every
    * distinct paragraph (first = smallest (doc, position)), and reassemble
    * the surviving paragraphs in their original order. Documents whose
    * every paragraph was seen earlier disappear (C4 drops empty docs).
    *
    * Scale: paragraphs group on their 128-bit md5 (16-byte shuffle key,
    * not the text); the min-struct aggregation is map-side partial, so the
    * only full-payload exchange is the per-doc reassembly — one shuffle
    * each way. Output column is `text_dedup`.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sepRegex: String = "\n{2,}", sep: String = "\n\n"): DataFrame = {
    val parts = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("__pos", "__p")))
      .filter(length(trim(col("__p"))) > 0)
    // first occurrence per paragraph hash: min over (doc, pos, text)
    // structs is lexicographic on the unique (doc, pos) prefix; carrying
    // the text in the struct avoids a second join against the parts.
    val kept = parts
      .groupBy(md5(col("__p")).as("__h"))
      .agg(min(struct(col("__id"), col("__pos"), col("__p"))).as("__first"))
      .select(col("__first.__id").as("__id"), col("__first.__pos").as("__pos"),
        col("__first.__p").as("__p"))
    kept.groupBy(col("__id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__p")))),
          s => s.getField("__p")), sep).as("text_dedup"))
      .select(col("__id").as(idCol), col("text_dedup"))
  }

  // ---- winnowing fingerprints -------------------------------------------

  /** Position multiplier packing (hash, pos) into one comparable long:
    * ch = h * 2^21 + pos. h < P = 2^31-1 and pos < 2^21, so ch < 2^52 —
    * exact in a long AND in a double, and min(ch) is "min hash, leftmost
    * position on ties" in any engine. */
  private val WinnowPosPack = 1L << 21

  /** Winnowing document fingerprints (Schleimer-Wilkerson-Aiken,
    * SIGMOD'03 — the MOSS algorithm; reference behavior: local
    * fingerprinting of k-gram hashes). For each document: positional word
    * k-gram hashes h_1..h_g, a sliding window of `w` consecutive hashes,
    * and in every window the minimum (hash, pos) — leftmost position on
    * hash ties, made total by packing pos into the low bits. The distinct
    * selected (hash, pos) pairs are the fingerprint. Guarantee: two
    * documents sharing a token run of >= w+k-1 words share at least one
    * fingerprint hash; density is ~2/(w+1) of grams, independent of
    * document length.
    *
    * Docs with fewer than k tokens have no grams and vanish; docs with
    * fewer than w grams contribute their single whole-doc window (the
    * pos=1 start always exists). Positions are capped at 2^21-1 grams
    * (~2M tokens) — a `raise_error` guard inside the pack expression
    * fails the job on longer docs; chunk them first
    * ([[graft.ops.TextAnalysis.chunk]]).
    *
    * Scale: everything is per-document — a row-local gram expansion and
    * two doc-partitioned windows; no join, no corpus-sized state. The
    * window partitions by doc so skew is bounded by the longest document,
    * exactly the thing the 2^21 guard caps. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow: k=$k, w=$w must be >= 1")
    val grams = docs
      .select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col("__id"),
        posexplode(when(size(col("__t")) >= k,
          transform(sequence(lit(1), size(col("__t")) - (k - 1)),
            i => concat_ws(" ", slice(col("__t"), i, lit(k)))))
          .otherwise(array().cast("array<string>"))).as(Seq("__p0", "__g")))
      .select(col("__id"), (col("__p0") + 1).as("__pos"),
        when(col("__p0") + 1 < WinnowPosPack,
          phashMod(col("__g")) * WinnowPosPack + col("__p0") + 1)
          .otherwise(raise_error(
            lit("winnow: document exceeds 2^21 grams — chunk it first"))
            .cast("long")).as("__ch"))
    val perDoc = Window.partitionBy(col("__id"))
    val frame = perDoc.orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__n", count(lit(1)).over(perDoc))
      .withColumn("__mch", min(col("__ch")).over(frame))
      .filter(col("__pos") <= greatest(lit(1), col("__n") - (w - 1)))
      .select(col("__id"), col("__mch")).distinct()
      .select(col("__id").as(idCol),
        (col("__mch") / WinnowPosPack).cast("long").as("fp_hash"),
        pmod(col("__mch"), lit(WinnowPosPack)).as("fp_pos"))
  }

  /** Near-dup / plagiarism pairs by shared winnowing fingerprints: docs
    * sharing >= `minShared` distinct fingerprint HASHES, scored by
    * containment-style overlap = shared / min(|fpA|, |fpB|). Fingerprint
    * hashes present in more than `maxDf` documents (boilerplate the paper
    * treats as noise) are dropped BEFORE the join — the hot-bucket cap
    * that keeps the inverted index linear in matches, not quadratic in a
    * ubiquitous phrase's document frequency.
    *
    * Both `shared` and the per-doc counts |fp| are taken WITHIN the
    * retained (post-df-cap) fingerprint space — numerator and denominator
    * measure the same set, so two near-identical boilerplate-heavy docs
    * still score ~1.0 (a pre-cap denominator would systematically deflate
    * exactly those pairs).
    *
    * Scale: the self-join is an equi-join on fp_hash over the df-capped
    * index; per-doc fingerprint counts ride the same pass (window count),
    * so one shuffle builds the index and one aggregates pairs. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4, minShared: Int = 2,
                         maxDf: Int = 50): DataFrame = {
    // Staged (r16): both self-join sides read the fingerprint index, so
    // without the persist the whole winnow chain (gram explode + two
    // doc windows + df/count windows) runs twice over the corpus. Index
    // rows are two longs per retained fingerprint — compact.
    // Measured and rejected (r17): re-staging the index with
    // repartition(__h) before the persist — so both self-join sides read
    // an already-__h-partitioned cache with no exchange — came out 3%
    // SLOWER in a same-JVM interleaved A/B (q197 ratio 1.03, control
    // 1.02): the two saved exchanges are node-sized and cheaper than the
    // extra staging exchange plus the lost AQE coalescing on the join.
    val fp = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fp_hash").as("__h")).distinct()
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__df") <= maxDf)
      .withColumn("__nf", count(lit(1)).over(Window.partitionBy(col("__id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { fp.unpersist(); () })
    val a = fp.select(col("__id").as("id_a"), col("__h"), col("__nf").as("__na"))
    val b = fp.select(col("__id").as("id_b"), col("__h"), col("__nf").as("__nb"))
    a.join(b, Seq("__h")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"),
        round(count(lit(1)) / least(first(col("__na")), first(col("__nb"))), 6)
          .as("overlap"))
      .filter(col("shared") >= minShared)
  }

  // ---- n-gram Jaccard ---------------------------------------------------

  /** Word n-gram shingles (distinct, sorted) of a document; empty array
    * when the document has fewer than n tokens (a bare `sequence(1, 0)`
    * would count DOWN in Spark and feed slice() an invalid start). */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(TextAnalysis.tokens(text), n)

  /** Shingles from an existing token-array column. Pass an attribute when
    * the doc is large — see minhashFromHashes note on lambda re-evaluation. */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_sort(array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1)), i =>
          concat_ws(" ", slice(toks, i, lit(n)))))))
      .otherwise(array().cast("array<string>"))

  /** Threshold at which [[ngramJaccardPairs]] switches from the
    * count-based full inverted index to the prefix-filtered candidate
    * topology. Below it the prefix keeps >= half of every set, so the
    * index join shrinks little while verification adds two array
    * join-backs (measured net loss at t=0.3); above it the prefix prunes
    * most index rows and candidates are few. */
  val PrefixStrategyMinThreshold = 0.5

  /** All-pairs n-gram Jaccard >= threshold. Dispatches on the threshold:
    * high thresholds use the PPJoin prefix-filtered candidate topology
    * ([[ngramJaccardPairsPrefix]] — bounds heavy-hitter shingles), low
    * thresholds the count-based full inverted index
    * ([[ngramJaccardPairsCount]]). Both produce identical results
    * (property-tested); only the plan differs.
    *
    * `partitionCols` scopes pairing (e.g. same crawl shard / source): at
    * 100 TB an unscoped shingle join on a small shingle domain degenerates
    * quadratically; scoping by a natural partition bounds each join group.
    * Pass Nil for a global join when the shingle domain is large (e.g.
    * 5-gram shingles of real text).
    *
    * EAGER for t >= [[PrefixStrategyMinThreshold]]: the prefix path runs
    * its degenerate-regime stats job (one Spark action) at construction
    * time — see [[ngramJaccardPairsPrefix]]. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        partitionCols: Seq[String] = Nil): DataFrame =
    if (threshold >= PrefixStrategyMinThreshold)
      ngramJaccardPairsPrefix(df, idCol, textCol, n, threshold, partitionCols)
    else
      ngramJaccardPairsCount(df, idCol, textCol, n, threshold, partitionCols)

  /** Per-doc 60-bit shingle-hash arrays: (__id, partitionCols..., __sh,
    * __n = |set|). Hashes, not shingle strings — 8-byte join keys, and the
    * hash-based oracles (q35) compute the identical hash so equality
    * semantics (including any collision) match exactly. No array-level
    * sort: the prefix total order lives entirely in the (frequency, hash)
    * row_number window, and verification's array_intersect is
    * order-insensitive, so sorting here would be per-doc dead work. */
  private[ops] def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                                 n: Int, partitionCols: Seq[String]): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    df.withColumn("__tk", TextAnalysis.tokens(col(textCol)))
      .withColumn("__shc", GraftFunctions.shinglesNative(col("__tk"), lit(n)))
      .select((col(idCol).as("__id") +: partitionCols.map(col)) :+
        GraftFunctions.phashArr(col("__shc")).as("__sh"): _*)
      .withColumn("__n", size(col("__sh")))
      .filter(col("__n") > 0)
  }

  /** Count-based formulation: explode ALL shingle hashes -> self-join on
    * hash -> count shared per pair -> jaccard = shared/(|A|+|B|-shared).
    * Every joined row is ~24 bytes and the shared-count aggregation is
    * map-side partial, so this wins when the threshold is low (prefixes
    * would keep most of each set anyway) or sets overlap densely. */
  def ngramJaccardPairsCount(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double,
                             partitionCols: Seq[String] = Nil): DataFrame = {
    // Stage the shingle-hash table (r16): the count topology's self-join
    // reads it on BOTH sides, so without the persist the tokenize +
    // shingle + hash kernel chain runs twice over the full corpus — the
    // same rationale (and storage level) as the prefix path's staging
    // persist. Corpus-sized but compact (8-byte hashes, no strings);
    // MEMORY_AND_DISK blocks are evictable, worst case is recompute.
    val sh = shingleHashes(df, idCol, textCol, n, partitionCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { sh.unpersist(); () })
    countTopology(sh, threshold, partitionCols)
  }

  private[ops] def countTopology(sh: DataFrame, threshold: Double,
                                 partitionCols: Seq[String]): DataFrame = {
    val inv = sh.select((col("__id") +: col("__n") +: partitionCols.map(col)) :+
      explode(col("__sh")).as("__s"): _*)
    val keys = "__s" +: partitionCols
    val l = inv.select(keys.map(col) :+ col("__id").as("id_a") :+ col("__n").as("__na"): _*)
    val r = inv.select(keys.map(col) :+ col("__id").as("id_b") :+ col("__n").as("__nb"): _*)
    l.join(r, keys)
      .filter(col("id_a") < col("id_b"))
      // PPJoin-style length filter: J <= min(|A|,|B|)/max(|A|,|B|), so a
      // size ratio below the threshold can never qualify — prune those
      // pairs before the expensive pair-count aggregation. Pure pruning
      // (the final jaccard filter would reject them anyway); the 1e-6
      // slack keeps pairs whose 6dp-ROUNDED jaccard could still tie the
      // threshold, so the oracle (which has no length filter) agrees.
      .filter(least(col("__na"), col("__nb")).cast("double")
        >= greatest(col("__na"), col("__nb")) * (threshold - 1e-6))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__shared"))
      .select(col("id_a"), col("id_b"),
        round(col("__shared") / (col("__na") + col("__nb") - col("__shared"))
          .cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directional n-gram CONTAINMENT pairs: C(a→b) = |S(a)∩S(b)| / |S(a)|
    * — the asymmetric near-dup measure Jaccard is blind to: a paragraph
    * quoted verbatim inside a long document has near-zero Jaccard (the
    * union is dominated by the long side) but containment ≈ 1. Training
    * pipelines use it to drop short documents swallowed by longer ones
    * (boilerplate, quotations, partial crawls of the same page).
    *
    * Output one row per ORDERED pair clearing `threshold`:
    * (id_contained, id_container, containment), both directions of an
    * unordered pair evaluated from one shared-count aggregation. Same
    * inverted-index topology and scale story as
    * [[ngramJaccardPairsCount]] (explode → 8-byte hash-keyed self-join →
    * map-side shared-count agg; scope with `partitionCols`). The length
    * ratio prune does NOT apply here — containment is exactly the
    * asymmetric case it would wrongly discard. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       partitionCols: Seq[String] = Nil): DataFrame = {
    // Staged for the same both-sides-of-the-self-join reason as
    // [[ngramJaccardPairsCount]] (r16).
    val sh = shingleHashes(df, idCol, textCol, n, partitionCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { sh.unpersist(); () })
    val inv = sh.select((col("__id") +: col("__n") +: partitionCols.map(col)) :+
      explode(col("__sh")).as("__s"): _*)
    val keys = "__s" +: partitionCols
    val l = inv.select(keys.map(col) :+ col("__id").as("id_a") :+ col("__n").as("__na"): _*)
    val r = inv.select(keys.map(col) :+ col("__id").as("id_b") :+ col("__n").as("__nb"): _*)
    val counts = l.join(r, keys)
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__shared"))
    counts.select(col("id_a").as("id_contained"), col("id_b").as("id_container"),
        round(col("__shared") / col("__na").cast("double"), 6).as("containment"))
      .unionByName(counts.select(col("id_b").as("id_contained"),
        col("id_a").as("id_container"),
        round(col("__shared") / col("__nb").cast("double"), 6).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** PREFIX-FILTERED formulation (All-Pairs / PPJoin, Xiao et al.): sort
    * each set by ASCENDING DOCUMENT FREQUENCY (ties by hash — the
    * literature's canonical total order), index only the first
    * |S| - ceil(t·|S|) + 1 elements, self-join the prefix index, derive
    * distinct candidate pairs, then verify by joining back the full hash
    * arrays. Candidate-complete for ANY consistent total order: a pair
    * with J >= t shares its order-smallest common element, which has
    * >= ceil(t·|S|) - 1 intersection elements above it in each set, so
    * its position is at most |S| - ceil(t·|S|) + 1 in both.
    *
    * The frequency order is what bounds heavy-hitter shingles at scale:
    * prefixes hold each doc's RAREST shingles, so join groups are keyed
    * on rare values with small doc counts — a shingle shared by f docs
    * lands in a prefix only when few rarer shingles exist in that doc.
    * (Ordering by raw hash value instead concentrates every doc's prefix
    * on the globally-smallest hashes and degenerates.) The win grows with
    * the threshold; below [[PrefixStrategyMinThreshold]] use the
    * count-based path.
    *
    * DEGENERATE-REGIME GUARD: prefix filtering only prunes when a doc's
    * rarest shingles are actually rare. On a small shingle domain (e.g.
    * bigrams over a tiny vocabulary) EVERY shingle is a heavy hitter, the
    * prefix index joins on fat keys, and the candidate set degenerates
    * toward all-pairs — measured at sf0.1 with bigrams: 931 distinct
    * shingles across 5,000 docs → 4.45M candidate pairs (36% of all
    * possible), 36 s. This method therefore runs a cheap one-pass stats
    * job first (posting count + HLL distinct over the exploded shingles —
    * map-side partials, scalar result) and falls back to the count-based
    * topology when the mean posting-list length exceeds
    * [[MaxMeanPostingFreq]]. The stats pass costs one extra scan of the
    * shingle relation — negligible insurance against a quadratic join.
    * Both topologies produce identical results (property-tested).
    *
    * NOTE this guard makes the call EAGER: it runs the stats job (one
    * Spark action) at DataFrame-CONSTRUCTION time, unlike most operators
    * here which stay lazy until the caller acts. When `partitionCols` is
    * non-empty the statistic is computed PER SCOPE and the topology is
    * chosen per scope: degenerate scopes (small shingle domains) route to
    * the count-based index, healthy scopes keep the prefix topology, and
    * the two halves union. One hot crawl shard can no longer demote every
    * other shard's join, and a healthy shard can never go quadratic. The
    * degenerate-key set stays distributed (broadcast semi/anti join
    * routing); the driver sees only a one-row existence probe, so scope
    * cardinality never limits the operator.
    *
    * The shingle-hash staging table is persisted (MEMORY_AND_DISK) before
    * the stats action materializes it: the downstream topology reads it
    * four times (document frequencies, prefix index, two verification
    * join-backs), and without the persist each read would re-run the
    * tokenize+shingle+hash kernel chain over the full corpus (measured
    * 2.3× end-to-end at sf0.1).
    *
    * The staging table (and the scoped route's degenerate-key leaf) is
    * held in [[Truncate.leaves]], whose hook — registered under the
    * caller's query scope — frees both when [[graft.QueryCleanup]]
    * drains it. Lineage is kept, so an early drain merely recomputes. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double,
                              partitionCols: Seq[String] = Nil): DataFrame = {
    val sh = shingleHashes(df, idCol, textCol, n, partitionCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val leaves = Truncate.leaves(sh)
    val perScope = sh
      .select(partitionCols.map(col) :+ explode(col("__sh")).as("__s"): _*)
      .groupBy(partitionCols.map(col): _*)
      .agg((count(lit(1)).cast("double") / approx_count_distinct(col("__s")))
        .as("__ratio"))
    if (partitionCols.isEmpty) {
      // unscoped: one global statistic, one topology
      perScope.head().getAs[Any](0) match {
        case null => countTopology(sh, threshold, partitionCols) // no shingles
        case r: Double if r > MaxMeanPostingFreq =>
          countTopology(sh, threshold, partitionCols)
        case _ => prefixTopology(sh, threshold, partitionCols)
      }
    } else {
      // scoped: route each scope independently. Scopes absent from sh
      // have no shingles and thus no pairs, so they need no route at all.
      // The degenerate-key set is routed via a null-safe BROADCAST
      // semi/anti join, never collected into a literal predicate: with
      // high-cardinality partitionCols (per-domain scoping at 100 TB) a
      // collect-and-OR would OOM the driver or hand Catalyst a
      // multi-thousand-node expression tree. Only an existence probe
      // (one row) runs eagerly here; the key set itself stays
      // distributed and is checkpointed driver-free so the two joins
      // below don't each re-run the stats aggregation.
      val degenKeys = leaves.keep(Truncate(perScope
        .filter(col("__ratio") > MaxMeanPostingFreq)
        .select(partitionCols.map(col): _*)))
      if (degenKeys.isEmpty) prefixTopology(sh, threshold, partitionCols)
      else {
        val dk = broadcast(
          degenKeys.select(partitionCols.map(c => col(c).as(s"__dk_$c")): _*))
        // <=> so a scope keyed by NULL still routes (plain = would drop it)
        val cond = partitionCols.map(c => col(c) <=> col(s"__dk_$c")).reduce(_ && _)
        countTopology(sh.join(dk, cond, "left_semi"), threshold, partitionCols)
          .unionByName(
            prefixTopology(sh.join(dk, cond, "left_anti"), threshold, partitionCols))
      }
    }
  }

  /** Mean shingle document-frequency (postings / distinct shingles) above
    * which [[ngramJaccardPairsPrefix]] refuses the prefix topology and
    * falls back to the count-based inverted index: when the AVERAGE
    * shingle already occurs in this many documents, frequency-ordered
    * prefixes cannot land on rare keys and the candidate join degenerates
    * quadratically. 32 splits the measured regimes by an order of
    * magnitude each way (sf0.1 documents: bigrams 275, trigrams 9.6). */
  val MaxMeanPostingFreq = 32.0

  /** The raw prefix-filtered topology, no stats guard — callers must know
    * their shingle domain is large (see [[ngramJaccardPairsPrefix]]). */
  private[ops] def prefixTopology(sh: DataFrame, threshold: Double,
                                  partitionCols: Seq[String]): DataFrame = {
    // 1e-6 slack below the threshold covers the 6dp rounding of the final
    // jaccard (a true J of t - 5e-7 rounds up to t and must be kept); the
    // same slack appears in the length filter below.
    val tSlack = threshold - 1e-6
    val keys = "__s" +: partitionCols
    val exploded = sh.select((col("__id") +: col("__n") +: partitionCols.map(col)) :+
      explode(col("__sh")).as("__s"): _*)
    // Document frequency per shingle (scoped like the join itself): tiny
    // rows, map-side partial aggregation.
    val freq = exploded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__f"))
    // Rank each doc's shingles by (frequency, hash); the prefix is the
    // first |S| - ceil(t·|S|) + 1 under that order.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__f"), col("__s"))
    val prefIdx = exploded.join(freq, keys)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <=
        (col("__n") - ceil(col("__n") * lit(tSlack)) + 1).cast("int"))
    val l = prefIdx.select(keys.map(col) :+ col("__id").as("id_a")
      :+ col("__n").as("__na") :+ col("__rk").as("__rka"): _*)
    val r = prefIdx.select(keys.map(col) :+ col("__id").as("id_b")
      :+ col("__n").as("__nb") :+ col("__rk").as("__rkb"): _*)
    val cand = l.join(r, keys)
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__na"), col("__nb")).cast("double")
        >= greatest(col("__na"), col("__nb")) * tSlack)
      // PPJoin positional filter: J >= t needs shared >= ceil(t/(1+t) *
      // (|A|+|B|)); every common element sits at or after this row's
      // positions in both sets, so the overlap can't exceed
      // min(|A|-pa, |B|-pb) + 1. A qualifying pair always survives via
      // its order-smallest common element (maximal remaining suffixes),
      // so pruning rows that can't reach the bound loses no pair.
      .filter(lit(1) + least(col("__na") - col("__rka"), col("__nb") - col("__rkb"))
        >= ceil((col("__na") + col("__nb")) * lit(tSlack / (1 + tSlack))))
      .select("id_a", "id_b")
      .distinct()
    // Verify once per candidate pair on the full hash arrays:
    // |A ∩ B| via array_intersect (arrays are per-doc distinct, so the
    // intersect size equals the oracle's shared-hash join count).
    cand
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sha"),
        col("__n").as("__na")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__shb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("__shared", size(array_intersect(col("__sha"), col("__shb"))))
      .select(col("id_a"), col("id_b"),
        round(col("__shared") / (col("__na") + col("__nb") - col("__shared"))
          .cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edit-distance similarity self-join via DELETION NEIGHBORHOODS
    * (the SymSpell blocking scheme): every distinct string emits itself
    * plus every way of deleting up to `maxDist` characters as candidate
    * keys. If ed(a, b) <= k, the alignment shows deletion variants
    * a' == b' where each side deletes at most k characters (a drops the
    * characters aligned to substitutions and a-side deletions, b those
    * aligned to substitutions and insertions) — so the blocking is
    * LOSSLESS for ed <= maxDist and candidates are verified with one
    * exact levenshtein call. Output: (name_a, name_b, dist),
    * name_a < name_b.
    *
    * Scale: the naive formulation is an O(n²) cross join with
    * levenshtein on every pair (the oracle runs exactly that at test
    * scale); this one exchanges the deletion keys per DISTINCT string
    * (|s|+1 at k=1, ~|s|²/2 at k=2 — the honest neighborhood-size trade
    * SymSpell documents), groups them hash-wise, length-gates candidates
    * (||a|−|b|| <= k, a free lower bound on ed), and runs the quadratic
    * verification only inside same-key groups — the standard
    * spell-correction join topology. k >= 3 neighborhoods grow |s|³-ish;
    * deliberately unsupported. */
  def editDistancePairs(df: DataFrame, strCol: String,
                        maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      "deletion-neighborhood blocking implemented for maxDist in {1, 2}")
    val s = col("__s")
    val names = df.select(col(strCol).as("__s")).distinct()
    // all single-character deletions of a (lambda-var) string; empty and
    // 1-char strings yield no deletions — the q254 sequence(1, 0) guard
    def delsOf(t: Column): Column =
      when(length(t) >= 1, transform(sequence(lit(0), length(t) - 1), i =>
        concat(t.substr(lit(1), i), t.substr(i + lit(2), length(t)))))
        .otherwise(array().cast("array<string>"))
    val d1 = delsOf(s)
    val keys =
      if (maxDist == 1) array_union(array(s), d1)
      else array_distinct(concat(array(s), d1,
        flatten(transform(d1, t => delsOf(t)))))
    // staged (r16): both self-join sides read the delete-key expansion —
    // unstaged, the SymSpell key generation runs twice over the dictionary
    val keyed = names.select(s, length(s).as("__len"), explode(keys).as("__k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { keyed.unpersist(); () })
    keyed.as("a").join(keyed.as("b"),
        col("a.__k") === col("b.__k") && col("a.__s") < col("b.__s") &&
          abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.__s").as("name_a"), col("b.__s").as("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** EXACT-substring duplication audit via sliding token windows — the
    * distributed approximation of suffix-array substring dedup (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022: their single-machine suffix array finds >= 50-token
    * repeats; a stride-1 window of n tokens finds exactly the repeats of
    * length >= n, at the cost of one hashed row per token). Every
    * document emits one 60-bit hash per n-token window; a window
    * instance is DUPLICATE when the same window content occurs at a
    * smaller (doc, pos) — first occurrence wins, like [[paragraphDedup]].
    * Output: one row per document with at least one duplicated window:
    * (id, n_windows, n_dup_windows) — the redaction-decision input (drop
    * doc / cut span / keep).
    *
    * Scale: the window table is ~one 24-byte (hash, encoded-pos) row per
    * corpus TOKEN — the honest cost of exact-substring detection; it
    * exchanges once on the window hash for the first-occurrence argmin
    * (map-side partial min), once more joining instances to firsts
    * (co-partitioned build side: the argmin output is already
    * hash-keyed), then reduces per doc. Positions encode as
    * doc·2^20 + pos so the argmin is a plain long min, not a struct
    * comparison, and an external engine replays it with integer
    * arithmetic. The doc id multiplies as a LONG (explicit cast — native
    * 32-bit arithmetic would silently wrap at id >= 2^11 under non-ANSI
    * eval), so the encoding is exact for any non-negative id < 2^43. The
    * id column must be a non-negative integral (type is checked
    * eagerly; non-negativity is the caller's precondition — a negative
    * id would invert the first-occurrence-wins ordering).
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 10): DataFrame = {
    require(n >= 2, s"window of $n tokens is below the useful minimum")
    require(n < (1 << 20), "positions encode in 20 bits")
    require(df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }, s"duplicateSpans: id column '$idCol' must be integral, got " +
      df.schema(idCol).dataType.simpleString)
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val wins = df
      .select(col(idCol).as("__id"), toks.as("__tk"))
      .filter(size(col("__tk")) >= n)
      .select(col("__id"), explode(
        transform(sequence(lit(0), size(col("__tk")) - n), i =>
          struct(i.as("pos"),
            phash(concat_ws(" ", slice(col("__tk"), i + 1, lit(n)))).as("h"))))
        .as("__w"))
      .select(col("__id"), col("__w.pos").as("__pos"), col("__w.h").as("__h"),
        (col("__id").cast("long") * lit(1L << 20) + col("__w.pos")).as("__k"))
      // staged (r16): the first-occurrence aggregation and the join back
      // both read the window relation — unstaged, the tokenize + window
      // explode + hash kernel runs twice over the corpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { wins.unpersist(); () })
    val firsts = wins.groupBy("__h").agg(min("__k").as("__first"))
    wins.join(firsts, Seq("__h"))
      .groupBy(col("__id").as("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__k") > col("__first"), 1L).otherwise(0L)).as("n_dup_windows"))
      .filter(col("n_dup_windows") > 0)
  }

  /** Fuzzy record-linkage join over the DISTINCT-value dictionary of a
    * string column: first-token blocking, then the native Jaro–Winkler
    * kernel ([[graft.functions.JaroWinklerImpl]]) on every within-block
    * pair, keeping `name_a < name_b` pairs whose 6dp-rounded similarity
    * clears `threshold`. Matching the dictionary instead of the rows is
    * the standard linkage shape: a 100 TB table has billions of rows but
    * a value dictionary orders of magnitude smaller, and row-level
    * matches recover by joining back on the exact value. Blocking bounds
    * the quadratic core to within-block pairs (the deliberate recall
    * trade every linkage blocker makes — pairs differing in token 1 are
    * unscored); a skewed block salts via the q91 path. Rounding BEFORE
    * the threshold keeps the cut replayable by an external engine even
    * if its last ulp differs. */
  def jaroWinklerDictJoin(df: DataFrame, nameCol: String,
                          threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    // staged (r16): both block-join sides read the distinct dictionary —
    // unstaged, the corpus scan + distinct exchange runs twice
    val dict = df.select(col(nameCol).as("name_a")).filter(col("name_a").isNotNull)
      .distinct()
      .withColumn("__blk", substring_index(col("name_a"), " ", 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { dict.unpersist(); () })
    val other = dict.select(col("name_a").as("name_b"), col("__blk"))
    dict.join(other, Seq("__blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", round(
        GraftFunctions.jaroWinklerNative(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= threshold)
      .select("name_a", "name_b", "jw")
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo, "The
    * merge/purge problem for large databases", SIGMOD 1995): sort the
    * table by a linkage key and emit every pair within a sliding window
    * of `w` positions of the GLOBAL (keyCol, idCol) order — the classic
    * record-linkage blocker whose candidate count is `w·n`, not `n²`.
    *
    * A global sort order normally means a single-partition window — the
    * scale-killer this implementation avoids with a deterministic
    * rank-offset scheme:
    *
    *  1. `bucketExpr` coarsely buckets the key. CONTRACT: it must be
    *     MONOTONE in the sort key (a prefix / leading-digits function:
    *     b(k1) <= b(k2) whenever k1 <= k2), so the global order is the
    *     bucket order refined by the within-bucket order. Monotonicity is
    *     the caller's responsibility — it cannot be checked cheaply.
    *  2. Per-bucket ranks come from a window PARTITIONED by bucket (all
    *     buckets rank in parallel); bucket row-counts (one tiny row per
    *     bucket) get prefix-summed into starting offsets — metadata-scale
    *     work — and broadcast-joined back. rank + offset = exact global
    *     row_number with no global sort anywhere.
    *  3. Each row fans out `w` successor ranks (`sequence(r+1, r+w)`)
    *     and equi-joins them against the ranked table: a plain integer
    *     hash join replaces both the self-range-join and any
    *     cross-partition boundary special-casing — pairs that straddle
    *     a bucket boundary match like any others because ranks are
    *     global.
    *
    * Output: one row per ordered neighbor pair (id_a, id_b, key_a,
    * key_b) with `id_a` the earlier row in sort order. Null keys sort
    * nowhere meaningful and are excluded. */
  def sortedNeighborPairs(df: DataFrame, idCol: String, keyCol: String,
                          w: Int, bucketExpr: Column): DataFrame = {
    require(w >= 1, s"window of $w neighbors is empty")
    // evaluate the caller's bucket expression against the caller's column
    // names BEFORE projecting to the internal (__k, __id) shape
    val global = Ranking.globalRowNumber(
        df.select(bucketExpr.as("__sb"), col(keyCol).as("__k"),
          col(idCol).as("__id")),
        Seq("__k", "__id"), bucketExpr = col("__sb"), outCol = "__g")
      .drop("__sb")
    val left = global.select(col("__id").as("id_a"), col("__k").as("key_a"),
        explode(sequence(col("__g") + 1, col("__g") + w)).as("__g"))
    left.join(global, Seq("__g"))
      .select(col("id_a"), col("__id").as("id_b"),
        col("key_a"), col("__k").as("key_b"))
  }
}
