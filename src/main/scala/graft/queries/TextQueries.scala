package graft.queries

import graft.Tables
import graft.ops.{Cdc, DataQuality, Dedup, Packing, Sampling, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication queries over `documents`, each with an
  * exact DuckDB oracle (portable md5-based hashing throughout — see
  * PortableHash).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Shared DuckDB fragments (tokens / token set / shingles). */
  private val tokSql = """string_split_regex(lower(trim(text)), '\s+')"""
  private val tokSetSql = s"list_sort(list_distinct($tokSql))"
  // 1-based inclusive list indexing; word n-gram shingles of the token array.
  private def shingleSqlN(n: Int): String = {
    val parts = (1 to n).map(j => s"$tokSql[i+$j]").mkString(" || ' ' || ")
    s"list_sort(list_distinct(list_transform(range(len($tokSql) - ${n - 1}), i -> $parts)))"
  }
  private val shingleSql = shingleSqlN(2)
  private val phashSql = (x: String) => s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  val queries: Map[String, Q] = Map(
    // Token statistics — per-row expressions over a staged token column
    // (split runs once per row; the stats read the attribute).
    "q30_text_stats" -> ((s, dir) => {
      val t = col("text")
      val stops = array(TextAnalysis.Stopwords.map(lit): _*)
      Tables.documents(s, dir)
        .withColumn("__tk", TextAnalysis.tokens(t))
        .select(
          col("doc_id"),
          size(col("__tk")).cast("long").as("n_tokens"),
          size(array_distinct(col("__tk"))).cast("long").as("n_uniq_tokens"),
          round(length(regexp_replace(trim(t), "\\s+", ""))
            / size(col("__tk")).cast("double"), 6).as("mean_tok_len"),
          round(size(filter(col("__tk"), tk => array_contains(stops, tk)))
            / size(col("__tk")).cast("double"), 6).as("stopword_ratio"),
          TextAnalysis.punctRatio(t).as("punct_ratio"))
        .orderBy("doc_id")
    }),

    // n-gram-heuristic language ID (argmax over marker-bigram profiles).
    "q31_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // Language-ID confusion matrix: declared lang x predicted lang with
    // counts — the audit view that turns q31's per-doc prediction into
    // the per-corpus "which languages does the heuristic confuse" report
    // (the first thing to check before trusting lang-filtered mixes).
    "q259_langid_confusion" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),

    // Composite quality score from length/punct/stopword signals (same
    // arithmetic as TextAnalysis.qualityScore, over a staged token column).
    "q32_quality" -> ((s, dir) => {
      val t = col("text")
      val stops = array(TextAnalysis.Stopwords.map(lit): _*)
      Tables.documents(s, dir)
        .withColumn("__tk", TextAnalysis.tokens(t))
        .withColumn("__stop", round(
          size(filter(col("__tk"), tk => array_contains(stops, tk)))
            / size(col("__tk")).cast("double"), 6))
        .select(
          col("doc_id"),
          round(
            least(col("n_chars").cast("double") / lit(500.0), lit(1.0)) * lit(0.4)
              + (lit(1.0) - least(TextAnalysis.punctRatio(t) * lit(5.0), lit(1.0))) * lit(0.3)
              + least(col("__stop") * lit(10.0), lit(1.0)) * lit(0.3), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // Bag-of-words fingerprint (md5 of sorted distinct tokens).
    "q33_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // Exact dedup over a union with re-keyed copies of the even-id docs:
    // each copy must collapse onto its original (min id wins). Groups on
    // the 128-bit text md5, not the text — 16-byte shuffle keys.
    "q34_exact_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val copies = d.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exact(d.unionByName(copies), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Exact bigram-shingle Jaccard near-dup pairs, scoped per source
    // (inverted-index join, no cross join).
    "q35_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 2, threshold = 0.3, partitionCols = Seq("source"))
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    // Directional containment: short docs swallowed by longer ones
    // (quotes, boilerplate, partial recrawls) — the asymmetric case
    // Jaccard is blind to. Same source-scoped inverted-index topology
    // as q35; one shared-count agg serves both directions.
    "q166_containment" -> ((s, dir) => {
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 2, threshold = 0.6, partitionCols = Seq("source"))
        .orderBy("id_contained", "id_container")
    }),

    // Winnowing (MOSS) fingerprint overlap: local selection keeps
    // ~2/(w+1) of gram hashes yet guarantees any shared >= w+k-1 = 6-word
    // run yields a shared fingerprint — the plagiarism/boilerplate
    // detector that needs no all-pairs pass and no minhash probabilism.
    "q197_winnow_overlap" -> ((s, dir) => {
      Dedup.winnowOverlapPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 2, maxDf = 50)
        .orderBy("id_a", "id_b")
    }),

    // MinHash(16) + LSH(4x4) candidate generation over bigram shingles,
    // verified with exact Jaccard — the scale path for near-dup detection.
    "q36_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // Train/eval contamination audit: hash-split the corpus 80/20 with
    // the engine's own deterministic sampling protocol, then count eval
    // documents whose near-twin (bigram Jaccard >= 0.3 via the q150
    // cross-corpus band topology) sits in train — the leak rate that
    // decides whether the eval set can be trusted at all.
    "q325_split_leakage" -> ((s, dir) => {
      Dedup.splitLeakageAudit(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3, trainFraction = 0.8)
    }),

    // Banding-recall audit of the q36 LSH tier against q35's exact
    // within-source pair set: a true pair that never shares a band is
    // one the tier can NEVER emit — the dedup twin of q318's ANN recall
    // audit, and the signal to re-band before the dedup rate silently
    // sags. Both sides deterministic, so the audit hash-checks.
    "q322_lsh_recall" -> ((s, dir) => {
      Dedup.lshBandRecallAudit(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3, partitionCols = Seq("source"))
    }),

    // Cross-corpus near-dup: incoming batch (odd doc_ids) vs existing
    // corpus (even doc_ids), banding each side separately — the A×B-only
    // candidate surface of Dedup.crossNearDup; same minhash parameters
    // as q36 so the same oracle CTE chain replays it.
    "q150_cross_neardup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.crossNearDup(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", shingleN = 2, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // q150 through the PERSISTENT index: the even-id corpus is absorbed
    // into a stored NearDupIndex in two incremental updates (the second
    // passes the full even set — its already-indexed half is skipped by
    // the replay guard), then the odd-id batch probes the STORED bands.
    // Same oracle as q150: the stored-band path must be bit-equal to the
    // full corpus-side recompute.
    "q161_neardup_index" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val idx = graft.util.Scratch.dir(s, "ndidx")
      val even = d.filter(col("doc_id") % 2 === 0)
      graft.pipelines.NearDupIndex.update(s, idx,
        even.filter(col("doc_id") % 4 === 0), "doc_id", "text",
        shingleN = 2, meta = "crawl-1")
      graft.pipelines.NearDupIndex.update(s, idx, even, "doc_id", "text",
        shingleN = 2, meta = "crawl-2")
      graft.pipelines.NearDupIndex.query(s, idx,
          d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          shingleN = 2, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // High-threshold near-dup pairs via the PPJoin PREFIX-filtered index
    // (global scope, no partition column): only each doc's
    // |S|-ceil(0.8|S|)+1 rarest shingle hashes are indexed, then distinct
    // candidates are verified against the full hash arrays. The scale
    // path for strict dedup (J >= 0.8) over an unscoped corpus. TRIGRAM
    // shingles: the domain grows as vocab^n, so n=3 keeps the mean
    // posting-list length small (9.6 at sf0.1 vs 275 for bigrams) — the
    // regime prefix filtering is designed for; the operator's stats guard
    // verifies this and would fall back to the count topology otherwise.
    // The J >= 0.8 pair set is identical for n in 2..4 on this corpus.
    "q64_ngram_prefix" -> ((s, dir) => {
      Dedup.ngramJaccardPairsPrefix(
        Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.8)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    // 32-bit SimHash per document (portable bit arithmetic, staged
    // projections so each token is md5'd once, not once per bit).
    "q37_simhash" -> ((s, dir) => {
      Dedup.withSimhash(Tables.documents(s, dir), "text", "simhash")
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // SimHash near-dup PAIRS over q37's hashes: byte-band bucketed join
    // (pigeonhole-lossless at Hamming <= 3), exact bit_count verify —
    // the token-multiset near-dup that needs no shingle explosion.
    // Near-dups are PLANTED (one token appended to the first 20 docs,
    // ids +200000 — SQL-regenerable, the q65 idiom) so the query is
    // value-bearing at every sf; the DuckDB oracle brute-forces all
    // hash pairs, so the banded join's losslessness is ORACLE-checked,
    // not just spec-pinned.
    "q187_simhash_neardup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" zzduptoken")).as("text"))
      Dedup.simhashPairs(d.unionByName(planted), "doc_id", "text", maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // The composed end-to-end corpus pipeline (normalize → quality →
    // exact dedup → LSH near-dup canonicalization → decontaminate →
    // split → pack). Every stage is an operator with its own oracle
    // query; the composition is rows-only checked here and
    // stage-asserted in CorpusPipelineSpec.
    "q88_corpus_pipeline" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val res = graft.pipelines.CorpusPipeline.run(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0))
      // lazy mode keeps the exact-dedup stage cached for the single
      // materialization; the harness releases it after consuming the rows
      graft.QueryCleanup.register(() => res.unpersist())
      res.corpus.select("doc_id", "source", "split", "n_tokens", "bin")
        .orderBy("doc_id")
    }),

    // Unicode canonicalization: planted decomposed accents / control
    // chars / whitespace runs (the synthetic corpus is pure ASCII) must
    // normalize identically in both engines — NFC, control strip,
    // whitespace collapse, trim, lowercase, in that order.
    "q87_normalize_text" -> ((s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val aug = concat(col("text"), lit("  CAFE"), lit("\u0301"), lit("\t"),
        lit("Mixed   SPACE "))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.normalizeText(aug).as("normalized"))
        .orderBy("doc_id")
    }),

    // JSONL round-trip (the training-corpus interchange format): write
    // one JSON object per line, read back with a PINNED schema (no
    // inference pass), content must survive exactly.
    "q83_jsonl_roundtrip" -> ((s, dir) => {
      val slice = Tables.documents(s, dir)
        .select("doc_id", "source", "lang", "n_chars", "text")
      val path = graft.util.Scratch.dir(s, "jsonl_roundtrip")
      graft.sources.JsonlSource.write(slice, path)
      graft.sources.JsonlSource.read(s, path, slice.schema)
        .orderBy("doc_id")
    }),

    // Gopher repetition rules: share of tokens held by the top token and
    // share of bigram occurrences held by the top bigram, per doc.
    "q79_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // LM-perplexity stand-in: mean log-prob of each doc's tokens under
    // the corpus' own unigram distribution.
    "q80_unigram_logprob" -> ((s, dir) => {
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // Bigram conditional mean log-prob per doc — the LM-quality signal
    // one rung above q80 (corpus-trained bigram model, exact conditional
    // normalization over first-token context counts).
    "q135_bigram_logprob" -> ((s, dir) => {
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: train docs sharing any word 8-gram with
    // the (deterministic) benchmark slice doc_id % 50 == 0. Benchmark
    // shingle hashes broadcast; contamination = one broadcast semi-join
    // pass over train.
    "q77_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.contaminatedIds(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // Incremental ingest dedup (daily-crawl append): a constructed batch
    // of genuinely-new docs (+1000000), re-keyed corpus duplicates
    // (+2000000, must all reject), and an in-batch second copy of the new
    // docs (+3000000, later id, must all reject) — only the +1000000 ids
    // are accepted.
    "q78_ingest_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val newDocs = d.filter(col("doc_id") % 5 === 0)
      val batch = newDocs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(corpus.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(newDocs.select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      Dedup.ingestDedup(batch, corpus, "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Canonicalization after LSH: connected components over the q36 pair
    // set; cluster = min transitively-reachable doc id ("keep one doc per
    // near-dup cluster" = keep rows where id == cluster). Min-label
    // propagation with pointer jumping — rounds = O(log diameter).
    "q76_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3)
      Dedup.dedupClusters(pairs).orderBy("id")
    }),

    // Same connected-components problem as q76, solved with the
    // alternating large-star/small-star algorithm instead of pointer
    // jumping — identical oracle, so any divergence between the two CC
    // formulations hash-mismatches against the recursive-CTE ground truth.
    "q97_dedup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3)
      Dedup.dedupClustersStar(pairs).orderBy("id")
    }),

    // PII scrubbing (emails/URLs/IPs/phones -> typed tags). The synthetic
    // corpus carries no PII, so the query PLANTS deterministic doc-keyed
    // PII by construction — both engines build the identical augmented
    // text, so a masking divergence in either rule chain hash-mismatches.
    "q70_pii_mask" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com via https://ex.com/d/"),
        col("doc_id"), lit(" or +1 555-0100 from 10.2.3.4"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.maskPii(aug).as("masked"))
        .orderBy("doc_id")
    }),

    // C4-style paragraph-level dedup. Two-paragraph docs built by
    // construction (own text + the text of doc_id % 100): the second
    // paragraph of every doc >= 100 is a corpus-wide duplicate and must
    // drop; docs < 100 self-pair and collapse to one paragraph.
    "q71_paragraph_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val b = d.filter(col("doc_id") < 100)
        .select(col("doc_id").as("__bid"), col("text").as("__btext"))
      val aug = d.join(broadcast(b), col("doc_id") % 100 === col("__bid"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__btext")).as("text"))
      Dedup.paragraphDedup(aug, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Deterministic stratified sampling + split: per-language keep
    // fractions (rebalancing an en-heavy corpus) and an 80/10/10
    // train/val/test assignment, both pure functions of the doc key via
    // the portable hash — reproducible on any engine, any partitioning.
    // Token-distribution JS divergence between the even/odd corpus
    // halves + top-20 drivers: PSI's text sibling — the vocabulary
    // itself is the drift signal. Micro-nat integer determinism.
    "q179_token_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.tokenDrift(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        topK = 20)
    }),

    // Zipf fit over the top-500 token frequencies: slope ≈ −1 is
    // natural language; flat = template spam, cliff = dedup debt. The
    // corpus-health one-liner next to q179's drift drivers.
    "q221_zipf_slope" -> ((s, dir) => {
      TextAnalysis.zipfSlope(Tables.documents(s, dir), "text", topK = 500)
    }),

    // Encoding-health audit per source: control/U+FFFD/NBSP character
    // mass — the bad-decode fingerprint that fingers a SOURCE where
    // q72 only drops documents.
    "q247_encoding_audit" -> ((s, dir) => {
      TextAnalysis.encodingAudit(Tables.documents(s, dir), "source", "text")
        .orderBy("source")
    }),

    // Deterministic negative sampling: for each sampled order, 3 parts
    // it did NOT contain, drawn by hashing into the part universe's
    // dense rank space — contrastive-training pairs with no RNG.
    "q246_negative_sample" -> ((s, dir) => {
      val pos = Tables.lineitem(s, dir)
        .filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      Sampling.negativeSample(pos, "l_orderkey", "l_partkey",
          Tables.part(s, dir), "p_partkey", k = 3)
        .orderBy("l_orderkey", "negative")
    }),

    // Good-Turing/Chao1 saturation: unseen-vocabulary mass + richness
    // floor — "is more crawling still buying new vocabulary?"
    "q240_good_turing" -> ((s, dir) => {
      TextAnalysis.goodTuring(Tables.documents(s, dir), "text")
    }),

    // Source-concentration HHI per language (char-mass weighted): the
    // head-weighted sibling of q207's gini; effective_n is "how many
    // sources is this corpus REALLY drawing on".
    "q241_hhi" -> ((s, dir) => {
      DataQuality.hhi(Tables.documents(s, dir), "lang", "source", "n_chars")
        .orderBy("lang")
    }),

    // Tokenizer fertility per language: chars per whitespace token —
    // the budget number a multilingual corpus planner reads (CJK text
    // costs more tokens per char under any subword scheme).
    "q237_token_fertility" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"),
          length(col("text")).cast("long").as("__chars"),
          size(filter(TextAnalysis.tokens(col("text")), t => t =!= ""))
            .cast("long").as("__toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__toks")).as("n_tokens"),
          sum(col("__chars")).as("n_chars"))
        .withColumn("chars_per_token",
          when(col("n_tokens") > 0,
            round(col("n_chars").cast("double")
              / col("n_tokens").cast("double"), 6)))
        .orderBy("lang")
    }),

    // Source x source vocabulary overlap from per-source KMV sketches:
    // the contamination matrix at O(|sources|^2 * k), independent of
    // corpus size — the exact answer is a data-sized semi-join per pair.
    "q238_source_overlap" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      Sketches.kmvPairwiseOverlap(toks, "source", "tok", k = 256)
        .orderBy("group_a", "group_b")
    }),

    // Flesch reading ease per document from portable counting
    // heuristics — grades reading LEVEL where q32 grades spam-likeness.
    "q227_readability" -> ((s, dir) => {
      TextAnalysis.readability(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Stratified k-fold balance audit: hash-fold assignment is a pure
    // scan-side projection; the (lang, fold) counts are the
    // imbalance-check a CV harness runs before trusting fold metrics.
    "q229_kfold" -> ((s, dir) => {
      Sampling.kFoldAssign(Tables.documents(s, dir), "doc_id", k = 5)
        .groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "fold")
    }),

    // Deterministic epoch shuffle: exact global position in the md5
    // permutation + contiguous shard/offset at shardSize=64 — the
    // "shuffle once, stream shards sequentially" training layout,
    // computed by the rank-offset scheme (no single-partition sort).
    "q173_epoch_shuffle" -> ((s, dir) => {
      Sampling.shuffleOrder(
          Tables.documents(s, dir).select("doc_id"), "doc_id", shardSize = 64L)
        .select("doc_id", "global_pos", "shard", "offset")
        .orderBy("doc_id")
    }),

    "q74_hash_split_sample" -> ((s, dir) => {
      val sampled = Sampling.stratifiedHashSample(
        Tables.documents(s, dir), "doc_id", "lang",
        fractions = Map("en" -> 0.5, "zh" -> 0.8),
        defaultFraction = 0.65)
      Sampling.hashSplit(sampled, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    }),

    // Deflate-compressibility quality signal (rows-only: zlib output is
    // deterministic for a fixed library but not SQL-expressible —
    // TextAnalysisSpec pins bounds and the repetitive<prose ordering).
    "q109_compress_ratio" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.compressionRatio(col("text")).as("deflate_ratio"))
        .orderBy("doc_id")
    }),

    // Count-min sketch heavy hitters: the exact top-20 terms with their
    // portable-CMS estimates attached (d=4, w=1024 — the sketch is 4096
    // cells no matter the corpus size; estimates overestimate only).
    "q107_cms_heavy_hitters" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val exact = tok.groupBy("term").agg(count(lit(1)).as("n_exact"))
      val top = exact.orderBy(col("n_exact").desc, col("term")).limit(20)
      val sketch = Sketches.cmsBuild(tok, "term")
      top.join(Sketches.cmsEstimate(top.select("term"), sketch, "term"), Seq("term"))
        .select("term", "n_exact", "cms_est")
        .orderBy("term")
    }),

    // KMV distinct-count sketch vs exact: estimate the distinct TEXT
    // count from the 256 smallest portable hash-uniforms (theta-sketch
    // basis, mergeable in O(k)), alongside the exact distinct count.
    "q117_kmv_distinct" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val est = Sketches.kmvEstimate(Sketches.kmvSketch(d, "text", k = 256), k = 256)
      val exact = d.agg(countDistinct(col("text")).as("n_exact"))
      exact.crossJoin(est)
    }),

    // Quality-aware near-dup resolution: within each q76 connected
    // component keep the HIGHEST-quality member (q32's score), not the
    // min id — what a production corpus dedup actually ships. One
    // window over the cluster key after the CC label join.
    "q130_cluster_representatives" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text", shingleN = 2, threshold = 0.3)
      val clusters = Dedup.dedupClusters(pairs)
      val q = d.select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text"), col("n_chars")).as("quality"))
      clusters.join(q, "id")
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("quality").desc, col("id"))))
        .filter(col("__rn") === 1)
        .select(col("cluster"), col("id").as("rep_id"), col("quality"))
        .orderBy("cluster")
    }),

    // Dictionary phrase matching: (phrase, doc) hits for a fixed phrase
    // set via per-length shingle broadcast joins — q77's decontamination
    // topology generalized to labeled multi-phrase output.
    "q131_phrase_match" -> ((s, dir) => {
      TextAnalysis.phraseMatch(Tables.documents(s, dir), "doc_id", "text",
        Seq("fast table", "merge batch", "query key scan", "sort table window"))
        .orderBy("phrase", "doc_id")
    }),

    // Grouped KMV: per-language approx-distinct of document text from
    // k=64 bounded per-group states (map-side WindowGroupLimit), shown
    // against the exact per-group distinct count. Same hash/estimator
    // as q117, so group sketches re-merge into the global one.
    "q128_kmv_grouped" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val est = Sketches.kmvEstimateGrouped(
        Sketches.kmvSketchGrouped(d, "lang", "text", k = 64), "lang", k = 64)
      val exact = d.groupBy("lang").agg(countDistinct(col("text")).as("n_exact"))
      exact.join(est, "lang").orderBy("lang")
    }),

    // Collocations: top adjacent-pair associations by integer lift
    // (monotone in PMI), log-PMI in micro-nats alongside. The min-count
    // prune runs before any join; totals broadcast as 1-row crossjoins.
    "q129_pmi_collocations" -> ((s, dir) => {
      TextAnalysis.collocations(Tables.documents(s, dir), "text",
        minCount = 3, topK = 50)
    }),

    // Snapshot diff (the promote-gate audit for q104's refresh): full
    // outer join of (key, content-md5) reductions — payloads never
    // shuffle — labeling every key added/removed/changed/same.
    "q116_snapshot_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val after = d.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit("rev2 "), col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 19 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Cdc.snapshotDiff(d, after, Seq("doc_id"), Seq("text"))
        .orderBy("doc_id")
    }),

    // Incremental corpus refresh, end to end THROUGH the versioned
    // store: two overlapping crawl batches ingested in sequence
    // (content dedup vs the committed corpus + in-batch first-wins +
    // benchmark decontamination per ingest, then an atomic version
    // commit). The oracle replays both ingests in SQL — the daily-
    // refresh path is hash-checked, not just spec-checked.
    "q123_incremental_ingest" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 50 === 0)
      val b1 = d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 50 =!= 0)
      val b2 = d.filter(col("doc_id") % 3 =!= 2 && col("doc_id") % 50 =!= 0)
      val table = graft.util.Scratch.dir(s, "incq")
      graft.pipelines.IncrementalCorpus.ingest(s, table, b1, bench,
        "doc_id", "text", decontamN = 8, meta = "crawl-1")
      graft.pipelines.IncrementalCorpus.ingest(s, table, b2, bench,
        "doc_id", "text", decontamN = 8, meta = "crawl-2")
      graft.sources.SnapshotStore.read(s, table)
        .select("doc_id").orderBy("doc_id")
    }),

    // q116's diff through the STORAGE layer: both snapshots committed as
    // SnapshotStore versions (atomic marker publish), then time-travel
    // diffVersions(v1, v2) — same answer as the in-memory diff, proving
    // the versioned store round-trips content and the time-travel reads
    // resolve the right commits. Same oracle as q116.
    "q122_snapshot_timetravel" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val after = d.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit("rev2 "), col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 19 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val table = graft.util.Scratch.dir(s, "tt")
      graft.sources.SnapshotStore.commit(d, table, meta = "base")
      graft.sources.SnapshotStore.commit(after, table, meta = "refresh")
      graft.sources.SnapshotStore.diffVersions(s, table, 1L, 2L,
          Seq("doc_id"), Seq("text"))
        .orderBy("doc_id")
    }),

    // Exact-substring duplication audit (the windowed form of
    // suffix-array substring dedup): docs sharing any 10-token window
    // with an earlier (doc, pos), with window/duplicate counts.
    "q106_substring_dedup" -> ((s, dir) => {
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text", n = 10)
        .orderBy("id")
    }),

    // Incremental corpus refresh (MERGE INTO semantics on raw parquet):
    // base snapshot v1 absorbs a deterministic change batch v2 — updates
    // (doc_id % 7 = 0 get a "rev2" prefix), tombstones (doc_id % 11 = 3,
    // minus the update set: (key, version) must be unique across the
    // batch), inserts (doc_id % 19 = 5 cloned to doc_id + 1000000).
    // Latest version wins in ONE key-partitioned window pass, no join.
    "q104_snapshot_merge" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val base = d.withColumn("version", lit(1L))
      val changes = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(lit("rev2 "), col("text")).as("text"),
          lit(2L).as("version"), lit(false).as("deleted"))
        .unionByName(d.filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text"), lit(2L).as("version"),
            lit(true).as("deleted")))
        .unionByName(d.filter(col("doc_id") % 19 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit(2L).as("version"), lit(false).as("deleted")))
      Cdc.snapshotMerge(base, changes, Seq("doc_id"), "version", "deleted")
        .select(col("doc_id"), col("version"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")
    }),

    // Exact heavy hitters over the token stream: a Misra–Gries bounded-
    // state candidate pass (per partition), then one exact count pass
    // over the broadcast candidate set. The oracle replays the exact
    // semantics (GROUP BY ... HAVING) directly — the MG pass provably
    // cannot change the answer (superset guarantee), only the shuffle
    // size, so frequent-token mining is hash-checked end to end.
    "q124_heavy_hitters" -> ((s, dir) => {
      val tk = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      Sketches.heavyHitters(tk, "token", supportDen = 1000, capacity = 1024)
        .orderBy(col("cnt").desc, col("token"))
    }),

    // Corpus mixture rebalance: target per-mille weights per language →
    // the largest achievable corpus with no upsampling, per-domain
    // selection by portable hash rank. Integral quota arithmetic and the
    // hash ordering replay exactly in SQL.
    "q126_mixture_rebalance" -> ((s, dir) => {
      Sampling.mixtureRebalance(
        Tables.documents(s, dir).select("doc_id", "lang"), "lang", "doc_id",
        Map("en" -> 400, "de" -> 150, "es" -> 150, "fr" -> 150, "zh" -> 150))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // TF-IDF top-3 salient terms per document: token explode reduces to
    // (doc, term) counts, idf joins back co-partitioned on the term key,
    // per-doc top-k is one windowed row_number over 1e-9-rounded scores.
    "q102_tfidf_terms" -> ((s, dir) => {
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", topK = 3)
        .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"))
        .orderBy("doc_id", "term")
    }),

    // Gries DP term dispersion across ingestion sources: |v_i/f − s_i|
    // summed over the source registry — separates real vocabulary
    // (spread like the corpus) from source-local artifacts (boilerplate,
    // site chrome) that raw frequency can't distinguish. Absent sources
    // count as |0 − s_i|: absence IS dispersion evidence. Distinct from
    // q232's Fano factor (volume burstiness over TIME, not sources).
    "q316_term_dispersion" -> ((s, dir) => {
      TextAnalysis.termDispersion(Tables.documents(s, dir), "source",
          minCount = 50)
        .orderBy("term")
    }),

    // BM25 retrieval against a fixed query-term set: top-20 docs by Okapi
    // score (k1=1.2, b=0.75), query-term filter applied before any
    // aggregation so tf tables stay |query|-bounded per doc.
    "q103_bm25" -> ((s, dir) => {
      TextAnalysis.bm25(Tables.documents(s, dir), "doc_id",
          queryTerms = Seq("join", "hash", "vector"), topK = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis priority
    // keys over the portable hash-uniform): 100 docs drawn proportional
    // to length — longer docs more likely, selection deterministic and
    // engine-replayable. Compiles to TakeOrderedAndProject (per-partition
    // k-heaps, no global sort).
    "q100_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(
          Tables.documents(s, dir).withColumn("w", length(col("text"))),
          "doc_id", "w", k = 100)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Per-language variant: 20 docs per stratum, one shuffle on the
    // stratum key, the reservoir ranking windowed per language.
    "q101_weighted_stratified" -> ((s, dir) => {
      Sampling.weightedSampleStratified(
          Tables.documents(s, dir).withColumn("w", length(col("text"))),
          "doc_id", "w", "lang", k = 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Sequence packing: whole docs into ~512-token bins per source shard,
    // packing order = doc_id (deterministic); bin = floor(exclusive token
    // prefix-sum / budget) — one window, one shuffle on the shard.
    "q75_pack_sequences" -> ((s, dir) => {
      val withTokens = Tables.documents(s, dir)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      Packing.packSequences(withTokens, "doc_id", "n_tokens", "source", budget = 512)
        .select("doc_id", "source", "n_tokens", "bin")
        .orderBy("doc_id")
    }),

    // Sketch-quality audit: per near-dup candidate pair, the MinHash
    // SIGNATURE Jaccard estimate (agreeing positions / 16) against the
    // exact shingle Jaccard and their absolute error — trending this
    // error tells you when the 16-hash budget stops fitting the corpus,
    // before the dedup threshold silently drifts.
    "q261_minhash_estimate" -> ((s, dir) => {
      Dedup.minhashEstimateError(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // Per-document n-gram NOVELTY: the share of a doc's distinct 8-grams
    // whose FIRST occurrence (min doc_id) is this doc — the per-crawl
    // freshness signal a dedup pipeline trends (novelty collapsing toward
    // 0 means the crawler is re-reading the same web). Inverted-index
    // shape: one shuffle on the gram hash for first-owners, one join
    // back; grams travel as 60-bit hashes, never strings.
    "q258_ngram_novelty" -> ((s, dir) => {
      // token array STAGED as a column: referencing the split expression
      // inside the gram lambdas would re-tokenize the text once per
      // element (the minhashLsh staging lesson — measured 50 s -> ~1 s)
      val tk = col("__tk")
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__tk"))
        .select(col("doc_id"),
          explode(when(size(tk) >= 8,
            array_distinct(transform(sequence(lit(1), size(tk) - 7),
              i => graft.functions.PortableHash.phash(
                concat_ws(" ", (0 until 8).map(o => element_at(tk, i + o)): _*)))))
            .otherwise(array().cast("array<long>"))).as("g"))
        // staged (r16): the first-owner aggregation and the join back
        // both read the gram relation — unstaged, the tokenize +
        // 8-gram hash explode runs twice (the duplicateSpans fix)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.QueryCleanup.register(() => { grams.unpersist(); () })
      val first = grams.groupBy("g").agg(min(col("doc_id")).as("__first"))
      grams.join(first, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty", round(col("n_novel") / col("n_grams")
          .cast("double"), 6))
        .orderBy("doc_id")
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): adjacent
    // content-word pairs (stopwords and short tokens dropped, both ends
    // eligible) form an undirected co-occurrence graph; 3 rounds of the
    // q125 integer-micro PageRank score the words; top 25 by (rank DESC,
    // word) is the keyword list. Nodes travel as 60-bit word hashes so
    // the rank loop stays on longs; the join back to words is
    // vocab-sized. The oracle replays hash, graph, and all 3 rounds.
    "q254_textrank" -> ((s, dir) => {
      val stop = TextAnalysis.Stopwords
      // staged token column — see q258's re-tokenize note
      val tk = col("__tk")
      val ok = (w: org.apache.spark.sql.Column) => length(w) >= 4 && !w.isInCollection(stop)
      // size guard (the q258 / repetitionStats idiom): sequence(1, 0) on a
      // <2-token doc is the DESCENDING [1, 0] and element_at(tk, 0) throws —
      // short documents must contribute no pairs, as the oracle's empty
      // range() does
      val adj = Tables.documents(s, dir)
        .select(TextAnalysis.tokens(col("text")).as("__tk"))
        .select(
          explode(filter(when(size(tk) >= 2,
              transform(sequence(lit(1), size(tk) - 1),
                i => struct(element_at(tk, i).as("a"), element_at(tk, i + 1).as("b"))))
              .otherwise(array().cast("array<struct<a:string,b:string>>")),
            p => ok(p("a")) && ok(p("b")) && p("a") =!= p("b"))).as("p"))
      val und = adj.select(least(col("p.a"), col("p.b")).as("a"),
          greatest(col("p.a"), col("p.b")).as("b")).distinct()
        .persist()
      graft.QueryCleanup.register(() => und.unpersist())
      val h = (c: org.apache.spark.sql.Column) => graft.functions.PortableHash.phash(c)
      val edges = und.select(h(col("a")).as("src"), h(col("b")).as("dst"))
        .unionByName(und.select(h(col("b")).as("src"), h(col("a")).as("dst")))
      val ranked = graft.ops.Graph.pageRankFixedPoint(edges, "src", "dst",
        iterations = 3)
      val words = und.select(col("a").as("word"))
        .unionByName(und.select(col("b").as("word"))).distinct()
      words.join(ranked, h(col("word")) === col("node"))
        .select(col("word"), col("rank").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("word"))
        .limit(25)
    }),

    // Token-budget corpus selection: the greedy "best docs under a
    // 15k-token budget" pass a fine-tuning set is cut with — order by
    // (stopword-ratio quality DESC, doc_id), keep docs whose INCLUSIVE
    // running token total fits. The running total is the distributed
    // bucket-offset prefix sum (Ranking.globalPrefixSum), not a
    // single-task global window.
    "q255_budget_select" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.stopwordRatio(col("text")).as("quality"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("__negq", -col("quality"))
      graft.ops.Ranking.globalPrefixSum(d, Seq("__negq", "doc_id"),
          bucketExpr = floor(col("__negq") * 20), valueCol = "n_tokens",
          outCol = "cum_tokens")
        .filter(col("cum_tokens") <= 15000L)
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }),

    // Distributed BPE merge TRAINING (the learning half of the q89
    // kernel): 8 rounds of corpus-wide best-pair selection over the
    // distinct-word vocabulary, exact integer counts, total tie-break —
    // the oracle unrolls the same 8 rounds in SQL and the learned table
    // replays bit-for-bit.
    "q253_bpe_train" -> ((s, dir) => {
      graft.ops.BpeTrain.trainDf(Tables.documents(s, dir), "text",
        numMerges = 8)
        .orderBy("rank")
    }),

    // Sequence packing on REAL BPE token counts (the production variant
    // of q75): the graft_bpe_count native kernel runs the merges-table
    // loop per row inside WholeStageCodegen, then the same one-window
    // packing assigns bins. No SQL oracle — BPE's iterative merge loop
    // isn't expressible in DuckDB SQL; BpeSpec pins exact counts on
    // fixed strings instead.
    "q89_bpe_pack" -> ((s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val withTokens = Tables.documents(s, dir)
        .withColumn("n_bpe",
          graft.functions.GraftFunctions.bpeCountNative(col("text")))
      Packing.packSequences(withTokens, "doc_id", "n_bpe", "source", budget = 2048)
        .select("doc_id", "source", "n_bpe", "bin")
        .orderBy("doc_id")
    }),

    // Temperature-flattened multilingual resampling (alpha = 0.5 routes
    // through the correctly-rounded sqrt, so the oracle replays the rate
    // table bit-for-bit): low-resource languages keep a higher fraction,
    // the dominant one is squeezed, expected total ≈ half the corpus.
    "q93_temperature_sample" -> ((s, dir) => {
      Sampling.temperatureSample(Tables.documents(s, dir), "doc_id", "lang",
        alpha = 0.5, targetFraction = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Sliding-window character chunking (size 256, stride 192 → 64-char
    // overlap): the RAG/long-context fan-out. Pure per-row explode —
    // the oracle replays the substring arithmetic exactly.
    "q94_chunk_docs" -> ((s, dir) => {
      TextAnalysis.chunk(Tables.documents(s, dir), "doc_id", "text",
        size = 256, stride = 192)
        .withColumn("chunk_idx", col("chunk_idx").cast("long"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // C4/Gopher-style corpus quality filter (token-count band, mean token
    // length band, punctuation ceiling, stopword floor) — thresholds set
    // so the filter bites (~40% of the synthetic corpus fails).
    "q72_corpus_filter" -> ((s, dir) => {
      val t = col("text")
      TextAnalysis.corpusFilter(Tables.documents(s, dir), "text",
        minTokens = 20, maxTokens = 70, minMeanTokLen = 3.0, maxMeanTokLen = 5.0,
        maxPunctRatio = 0.05, minStopwordRatio = 0.02)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
          TextAnalysis.meanTokenLength(t).as("mean_tok_len"),
          TextAnalysis.stopwordRatio(t).as("stopword_ratio"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser–Ney bigram LM score per doc (D = 0.75): the
    // smoothed rung above q135's unsmoothed conditional — exact-rational
    // probabilities, micro-nat quantization, integer per-doc means.
    "q266_kneser_ney" -> ((s, dir) => {
      TextAnalysis.kneserNeyLogProb(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // DSIR importance selection: score every doc by the add-one-smoothed
    // unigram likelihood ratio of the English slice vs the whole corpus,
    // keep the deterministic top 100 (integer-micro scores, doc_id ties).
    "q267_dsir_select" -> ((s, dir) => {
      TextAnalysis.importanceScores(Tables.documents(s, dir), "doc_id",
          targetPred = col("lang") === "en")
        .orderBy(col("score").desc, col("doc_id"))
        .limit(100)
    }),

    // Mixture allocation under availability caps (water-filling): given
    // per-source char counts and a skewed target mix (share of src_i
    // proportional to i+1), split a 60%-of-total budget so each source
    // gets min(availability, lambda*target) — the planning step a data
    // mixer runs before drawing anything. Pure integer protocol over
    // the 20-row domain table; constants inlined into both engines.
    "q327_mixture_allocation" -> ((s, dir) => {
      import s.implicits._
      val avail = Tables.documents(s, dir)
        .filter(col("n_chars").isNotNull)
        .groupBy(col("source").as("domain"))
        .agg(sum(col("n_chars")).as("avail"))
      val targets = mixTargets.toDF("domain", "t_micro")
      Sampling.mixtureAllocation(avail, "domain", "avail",
          targets, "t_micro", budgetMicroOfTotal = 600000L)
        .orderBy("domain")
    }),

    // Data-constrained epoch allocation beside q327's water-filling:
    // train for 3x the corpus (budget = 3e6 micro of total availability)
    // with repetition capped at 4 epochs — per source, how many tokens
    // its target share wants, how many the cap serves, the implied
    // epoch count, and the repeated/shortfall split. Budget expressed
    // in micro of total availability so both branches (capped big
    // targets, uncapped small ones) appear at every SF.
    "q334_epoch_allocation" -> ((s, dir) => {
      import s.implicits._
      val avail = Tables.documents(s, dir)
        .filter(col("n_chars").isNotNull)
        .groupBy(col("source").as("domain"))
        .agg(sum(col("n_chars")).as("avail"))
      val targets = mixTargets.toDF("domain", "t_micro")
      Sampling.epochAllocation(avail, "domain", "avail",
          targets, "t_micro", budgetMicroOfAvail = 3000000L,
          maxEpochsMicro = 4000000L)
        .orderBy("domain")
    }),

    // Banding-PRECISION audit — the cost twin of q322's recall: of all
    // pairs the q36 LSH bands ever collide, what fraction verifies at
    // exact Jaccard >= 0.3? Every non-verifying candidate is wasted
    // verification work (two array fetches + an exact intersection),
    // and at corpus scale the verify join dominates the tier's cost.
    "q335_lsh_precision" -> ((s, dir) => {
      Dedup.lshBandPrecisionAudit(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.3)
    }),

    // Dedup threshold-sensitivity curve: pair count + exact similarity
    // mass at thresholds {0.2, 0.3, 0.5, 0.7} from ONE banding +
    // verification pass — the aggressiveness tuning table a dedup
    // operator reads before committing to a threshold (q335's audit
    // family, operationalized the way q333 does for nprobe).
    "q338_dedup_threshold_curve" -> ((s, dir) => {
      Dedup.dedupThresholdCurve(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2,
        thresholdsMicro = Seq(200000L, 300000L, 500000L, 700000L))
    }),

    // DoReMi-style mixture-weight update beside q327's water-filling —
    // the mixer's LEARNING loop: per-source weights (doc counts) are
    // up-weighted by each source's excess-loss proxy (share of short
    // docs, n_chars < 250, in micro by integral division) via the
    // linearized multiplicative-weights step, then renormalized to
    // exactly 1e6 by largest remainder. Pure integer protocol over the
    // 20-row domain table.
    "q332_doremi_update" -> ((s, dir) => {
      val agg = Tables.documents(s, dir)
        .filter(col("n_chars").isNotNull)
        .groupBy(col("source").as("domain"))
        .agg(count(lit(1)).as("w"),
          expr("(1000000 * sum(CASE WHEN n_chars < 250 THEN 1 ELSE 0 END))" +
            " div count(1)").as("excess_micro"))
      Sampling.mixtureWeightUpdate(agg, "domain", "w",
          agg, "excess_micro", etaMicro = 500000L)
        .orderBy("domain")
    }),

    // Per-domain token quota (no source may contribute > 800 tokens):
    // docs rank by portable hash within their source; the kept prefix's
    // inclusive running token total must stay within budget.
    "q268_domain_quota" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.domainTokenQuota(d, "doc_id", "source", "n_tokens",
          budget = 800L)
        .orderBy("doc_id")
    }),

    // Boilerplate line removal: every doc gets a per-source footer line
    // planted by construction (df = docs-per-source >= threshold, must
    // drop from ALL docs) plus a doc-keyed unique line (df = 1, must
    // survive); the body text survives unless genuinely repeated.
    "q269_boilerplate_lines" -> ((s, dir) => {
      val aug = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            lit("\nfooter "), col("source"), lit(" subscribe now"),
            lit("\ndoc "), col("doc_id"), lit(" unique")).as("text"))
      TextAnalysis.stripBoilerplate(aug, "doc_id", minDocFreq = 10)
        .orderBy("doc_id")
    }),

    // Token-balanced sharding: snake-deal docs across 8 shards in
    // descending token-count order (rank-offset global rank, no
    // single-partition sort) so shard token totals equalize.
    "q270_snake_shards" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.snakeShards(d, "doc_id", "n_tokens", nShards = 8)
        .orderBy("doc_id")
    }),

    // OOV rate against the corpus' own top-20 vocabulary (the synthetic
    // corpus has 31 token types, so the cut bites; count-desc/token-asc
    // tie order is pinned in both engines).
    "q271_oov_rate" -> ((s, dir) => {
      TextAnalysis.oovRate(Tables.documents(s, dir), "doc_id", vocabSize = 20)
        .orderBy("doc_id")
    }),

    // Gopher duplicate-bigram mass: total share of bigram occurrences
    // belonging to within-doc repeats (q79 reports only the hottest
    // bigram's share; this catches diffuse templating).
    "q272_dup_bigram_share" -> ((s, dir) => {
      TextAnalysis.dupNgramShare(Tables.documents(s, dir), "doc_id", n = 2)
        .orderBy("doc_id")
    }),

    // Vocabulary coverage curve: types needed (frequency-desc, token-asc)
    // to cover 50/90/99% of token occurrences.
    "q277_vocab_coverage" -> ((s, dir) => {
      TextAnalysis.vocabCoverage(Tables.documents(s, dir),
          coverages = Seq(0.5, 0.9, 0.99))
        .orderBy("coverage")
    }),

    // Corpus funnel: docs surviving each pipeline stage (normalize ->
    // quality -> exact dedup -> near-dup -> decontaminate) — the
    // data-loss attribution table a corpus card leads with. Counts come
    // from the pipeline's own collectCounts instrumentation (bounded
    // driver artifact: six longs).
    "q314_pipeline_funnel" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val res = graft.pipelines.CorpusPipeline.run(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0),
        collectCounts = true)
      graft.QueryCleanup.register(() => res.unpersist())
      val c = res.counts.get
      Seq(("1_input", c.input), ("2_normalized", c.normalized),
        ("3_quality", c.quality), ("4_exact_dedup", c.exactDedup),
        ("5_near_dedup", c.nearDedup), ("6_decontaminated", c.decontaminated))
        .toDF("stage", "n_docs")
        .orderBy("stage")
    }),

    // Near-dup component-size histogram: how big do duplicate clusters
    // get (the long tail is where template farms and mirror sites live).
    // One groupBy over the CC labels, then a size histogram.
    "q303_cluster_sizes" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text",
        shingleN = 2, threshold = 0.3)
      val clusters = Dedup.dedupClusters(pairs)
      clusters.groupBy(col("cluster")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    // Corpus dedup summary: the three headline duplication rates (exact
    // excess rows, docs in near-dup pairs, docs sharing an 8-gram with
    // another doc) in ONE report table — the number a corpus card quotes
    // before anyone asks for the pair lists.
    "q301_dedup_report" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val total = d.agg(count(lit(1)).as("__total"))
      val exact = d
        .agg((count(lit(1)) - countDistinct(md5(col("text")))).as("n"))
        .select(lit("exact_excess").as("metric"), col("n"))
      val pairs = Dedup.minhashLsh(d, "doc_id", "text",
        shingleN = 2, threshold = 0.3)
      val near = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .distinct().agg(count(lit(1)).as("n"))
        .select(lit("neardup_docs").as("metric"), col("n"))
      val contam = Dedup.sharedShingleDocs(d, "doc_id", "text", n = 8)
        .agg(count(lit(1)).as("n"))
        .select(lit("shared_8gram_docs").as("metric"), col("n"))
      exact.unionByName(near).unionByName(contam)
        .crossJoin(broadcast(total))
        .select(col("metric"), col("n"),
          round(col("n").cast("double") / col("__total").cast("double"), 6)
            .as("share"))
        .orderBy("metric")
    }),

    // Per-source Gopher gate report: pass rate + per-rule fail shares —
    // "the symbol cap removed 3% of source X, the stopword floor 9%" —
    // the attribution table a data-mix owner actually reads (q288 is the
    // per-doc view; this is its roll-up).
    "q302_gopher_report" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val flags = TextAnalysis.gopherFilter(d, "doc_id")
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      def failShare(c: String) =
        round(sum(when(col(c), 0L).otherwise(1L)).cast("double")
          / count(lit(1)).cast("double"), 6).as(s"fail_$c")
      flags.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          round(sum(when(col("pass"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("pass_rate"),
          failShare("r_word_count"), failShare("r_word_len"),
          failShare("r_symbol"), failShare("r_stop"), failShare("r_dup"))
        .orderBy("source")
    }),

    // CCNet-style perplexity filter: keep each source's at-or-above-
    // median half by mean bigram log-prob — per-SOURCE thresholds so no
    // register gets emptied by a global cut. Exact lower-median order
    // statistic; the kept set replays bit-for-bit.
    "q292_perplexity_filter" -> ((s, dir) => {
      TextAnalysis.perplexityFilter(Tables.documents(s, dir), "doc_id", "source")
        .orderBy("doc_id")
    }),

    // Gopher composite quality gate: five rule booleans beside the
    // measured values plus the conjunction — the per-rule attribution a
    // corpus report needs ("symbol cap removed 3%, stopword floor 9%").
    "q288_gopher_filter" -> ((s, dir) => {
      TextAnalysis.gopherFilter(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // Packing-efficiency report per source over q75's 512-token bins:
    // mean fill, underfull share, padding waste — the context-window
    // utilization number that decides the packing budget.
    "q289_packing_stats" -> ((s, dir) => {
      val withTokens = Tables.documents(s, dir)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      val packed = Packing.packSequences(withTokens, "doc_id", "n_tokens",
        "source", budget = 512)
      Packing.packingStats(packed, "source", "n_tokens", budget = 512)
        .orderBy("source")
    }),

    // Per-doc Shannon entropy of the token distribution (nats, the q80
    // integer-ln protocol): the lexical-diversity filter between q30's
    // type/token ratio and q272's duplicate-bigram mass — low entropy at
    // high length is the generated-filler signature.
    "q280_token_entropy" -> ((s, dir) => {
      TextAnalysis.tokenEntropy(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // Template dedup over digit runs: two planted variants per doc
    // ("page <k>" suffixes with different k) collapse to one template
    // class after [0-9]+ -> '0' canonicalization; bases with digit-free
    // identical text would group too (none exist — every class here is
    // exactly the planted pair).
    "q273_template_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = d.select(col("doc_id"),
          concat(col("text"), lit(" page "), col("doc_id") % 7).as("text"))
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" page "), col("doc_id") % 5 + 10).as("text")))
      Dedup.templateDedup(aug, "doc_id", "text")
        .orderBy("doc_id")
    }))

  private val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  /** q36's MinHash-LSH candidate+verify pipeline as a reusable CTE chain
    * (ends at `j` = verified pairs with exact jaccard); shared by the q36
    * and q76 oracles so both replay the identical pair set. */
  /** q327's target mixture: share of src_i ∝ (i+1), in micro-units with
    * driver-side integer division — the SAME constants are inlined into
    * the Spark plan and the oracle's VALUES list (the discountMicros
    * protocol), so neither engine ever re-derives them. */
  private val mixTargets: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", (i + 1).toLong * 1000000L / 210L))

  private val minhashPairsCte =
    s"""sh AS (SELECT doc_id, $shingleSql AS s FROM documents WHERE len($tokSql) >= 2),
          th AS (SELECT doc_id, ${phashSql("g")} % 2147483647 AS h
                 FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
          mh AS (SELECT doc_id, j, min(((2*j + 1001) * h + (3*j + 17)) % 2147483647) AS m
                 FROM th CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
          sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM mh GROUP BY doc_id),
          band AS (SELECT doc_id, b, md5(array_to_string(sg[b*4+1 : b*4+4], ',')) AS bk
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                   FROM band a JOIN band c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
          j AS (SELECT id_a, id_b,
                  round(len(list_intersect(x.s, y.s)) * 1.0
                        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
                FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)"""

  private val langScoreSql: String = {
    // Mirrors TextAnalysis.langId: Σ occurrences of each marker bigram,
    // occurrences via the length-delta idiom; first-listed language wins ties.
    def cnt(bg: String) = s"(length(text) - length(replace(text, '$bg', ''))) / 2"
    val scores = TextAnalysis.LangMarkers.map { case (lang, bgs) =>
      lang -> bgs.map(cnt).mkString("(", " + ", ")")
    }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val cases = scores.map { case (lang, s) =>
      s"WHEN $s = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    s"(SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred FROM (SELECT doc_id, lang, text, $best AS __best FROM documents))"
  }

  /** q88's staged corpus chain (normalize -> quality -> exact dedup ->
    * near-dup CC -> decontaminate), hoisted so the funnel report (q314)
    * replays the IDENTICAL stages. Ends at `clean`. */
  private val corpusChainSql: String = {
    val T = """string_split_regex(text, '\s+')"""
    def norm(x: String) =
      s"""lower(trim(regexp_replace(regexp_replace(nfc_normalize($x), '[\\x00-\\x1f\\x7f]', ' ', 'g'), '\\s+', ' ', 'g')))"""
    def grams8 =
      (1 to 8).map(k => s"$T[i+$k]").mkString(" || ' ' || ")
    s"""nrm AS (SELECT doc_id, source, ${norm("text")} AS text FROM documents WHERE doc_id % 50 <> 0),
          q AS (SELECT doc_id, source, text FROM (
                  SELECT doc_id, source, text,
                    CAST(len($T) AS BIGINT) AS nt,
                    length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / len($T) AS mtl,
                    len(list_filter($T, t -> t IN ('the','a','an','and','of','to','in','is','it','for'))) * 1.0 / len($T) AS sw,
                    (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(text) AS pr
                  FROM nrm)
                WHERE nt BETWEEN 5 AND 100000 AND mtl BETWEEN 1.0 AND 20.0 AND pr <= 0.5 AND sw >= 0.0),
          ex AS (SELECT q.* FROM q JOIN (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)) k USING (doc_id)),
          sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(range(len($T) - 1), i -> $T[i+1] || ' ' || $T[i+2]))) AS s
                 FROM ex WHERE len($T) >= 2),
          th AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 2147483647 AS h
                 FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
          mh AS (SELECT doc_id, j, min(((2*j + 1001) * h + (3*j + 17)) % 2147483647) AS m
                 FROM th CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
          sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM mh GROUP BY doc_id),
          band AS (SELECT doc_id, b, md5(array_to_string(sg[b*4+1 : b*4+4], ',')) AS bk
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                   FROM band a JOIN band c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
          p AS (SELECT id_a, id_b FROM (
                  SELECT id_a, id_b,
                    len(list_intersect(x.s, y.s)) * 1.0 / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jac
                  FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)
                WHERE jac >= 0.8),
          edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
          reach AS (SELECT src AS id, dst AS r FROM edges
                    UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          lab AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id),
          near AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster)),
          bn AS (SELECT ${norm("text")} AS text FROM documents WHERE doc_id % 50 = 0),
          tr8 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len($T) - 7), i -> $grams8))) AS g FROM near),
          be8 AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len($T) - 7), i -> $grams8))) AS g FROM bn),
          cont AS (SELECT DISTINCT tr8.doc_id FROM tr8 JOIN be8 USING (g)),
          clean AS (SELECT * FROM near WHERE doc_id NOT IN (SELECT doc_id FROM cont))"""
  }

  val oracles: Map[String, String] = Map(
    // cluster-size-histogram replay: the q130 CC chain, then two
    // grouping levels (per-cluster size, per-size count).
    "q303_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashPairsCte,
          p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
          edges AS (SELECT id_a AS src, id_b AS dst FROM p
                    UNION SELECT id_b, id_a FROM p),
          reach AS (SELECT src AS id, dst AS r FROM edges
                    UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          lab AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id),
          sz AS (SELECT cluster, count(*) AS s FROM lab GROUP BY cluster)
          SELECT CAST(s AS BIGINT) AS cluster_size, count(*) AS n_clusters
          FROM sz GROUP BY s ORDER BY cluster_size""",
    // dedup-report replay: exact excess via distinct-md5, near-dup docs
    // from the shared q36 pair chain, 8-gram sharers via a shingle-keyed
    // window — one three-row report with shares.
    "q301_dedup_report" -> {
      val sh8 = s"list_transform(${shingleSqlN(8)}, g -> ${phashSql("g")})"
      s"""WITH $minhashPairsCte,
          tot AS (SELECT count(*) AS t FROM documents),
          ex AS (SELECT 'exact_excess' AS metric,
                   count(*) - count(DISTINCT md5(text)) AS n FROM documents),
          nd AS (SELECT 'neardup_docs' AS metric, count(*) AS n FROM (
                   SELECT DISTINCT id FROM (
                     SELECT id_a AS id FROM j WHERE jaccard >= 0.3
                     UNION ALL SELECT id_b FROM j WHERE jaccard >= 0.3))),
          sg AS (SELECT DISTINCT doc_id, s FROM (
                   SELECT doc_id, unnest($sh8) AS s FROM documents)),
          sh8d AS (SELECT 'shared_8gram_docs' AS metric,
                   count(DISTINCT doc_id) AS n FROM (
                     SELECT doc_id, count(*) OVER (PARTITION BY s) AS c FROM sg)
                   WHERE c >= 2),
          u AS (SELECT * FROM ex UNION ALL SELECT * FROM nd UNION ALL SELECT * FROM sh8d)
          SELECT metric, CAST(n AS BIGINT) AS n,
            round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
          FROM u, tot ORDER BY metric"""
    },
    // gopher-report replay: q288's per-doc flags grouped by source with
    // CASE-sum fail shares.
    "q302_gopher_report" ->
      s"""WITH base AS (SELECT doc_id,
              CAST(len($tokSql) AS BIGINT) AS n_tokens,
              round(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                * 1.0 / len($tokSql), 6) AS mean_word_len,
              round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                * 1.0 / length(text), 6) AS symbol_ratio,
              round(len(list_filter($tokSql, t -> t IN ($stopList)))
                * 1.0 / len($tokSql), 6) AS stop_ratio
            FROM documents),
          bg AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(len($tokSql) - 1),
                           i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                       FROM documents WHERE len($tokSql) >= 2)
                 GROUP BY doc_id, g),
          dup AS (SELECT doc_id,
                    round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS ds
                  FROM bg GROUP BY doc_id),
          fl AS (SELECT b.doc_id, d2.source,
                   b.n_tokens BETWEEN 20 AND 100000 AS r1,
                   b.mean_word_len BETWEEN 3.0 AND 10.0 AS r2,
                   b.symbol_ratio <= 0.1 AS r3,
                   b.stop_ratio >= 0.05 AS r4,
                   coalesce(dp.ds, 0.0) <= 0.1 AS r5
                 FROM base b
                 LEFT JOIN dup dp ON b.doc_id = dp.doc_id
                 JOIN documents d2 ON b.doc_id = d2.doc_id)
          SELECT source, count(*) AS n,
            round(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) * 1.0
              / count(*), 6) AS pass_rate,
            round(sum(CASE WHEN r1 THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS fail_r_word_count,
            round(sum(CASE WHEN r2 THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS fail_r_word_len,
            round(sum(CASE WHEN r3 THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS fail_r_symbol,
            round(sum(CASE WHEN r4 THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS fail_r_stop,
            round(sum(CASE WHEN r5 THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS fail_r_dup
          FROM fl GROUP BY source ORDER BY source""",
    // perplexityFilter replay: q135's score chain, per-source lower
    // median as min(value with cum >= ceil(n/2)), at-or-above cut.
    "q292_perplexity_filter" ->
      s"""WITH bgdoc AS (SELECT doc_id, g, count(*) AS dc
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(len($tokSql) - 1),
                           i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                       FROM documents WHERE len($tokSql) >= 2)
                 GROUP BY doc_id, g),
          st AS (SELECT g, CAST(round(ln(CAST(c AS DOUBLE) / ctx) * 1e6, 0) AS BIGINT) AS lpu
                 FROM (SELECT g, sum(dc) AS c,
                         sum(sum(dc)) OVER (PARTITION BY split_part(g, ' ', 1)) AS ctx
                       FROM bgdoc GROUP BY g)),
          sc0 AS (SELECT doc_id, round(sum(dc * lpu) * 1.0 / sum(dc) / 1e6, 6) AS mean_logprob
                  FROM bgdoc JOIN st USING (g) GROUP BY doc_id),
          sc AS (SELECT s.doc_id, d.source, s.mean_logprob
                 FROM sc0 s JOIN documents d USING (doc_id)),
          c AS (SELECT source, mean_logprob, count(*) AS cnt
                FROM sc GROUP BY source, mean_logprob),
          w AS (SELECT source, mean_logprob, cnt,
                  sum(cnt) OVER (PARTITION BY source ORDER BY mean_logprob) AS cum,
                  sum(cnt) OVER (PARTITION BY source) AS n FROM c),
          m AS (SELECT source, min(mean_logprob) AS med
                FROM w WHERE cum >= (n + 1) // 2 GROUP BY source)
          SELECT sc.doc_id, sc.source, sc.mean_logprob
          FROM sc JOIN m USING (source)
          WHERE sc.mean_logprob >= m.med ORDER BY sc.doc_id""",
    // gopherFilter replay: q30's measured ratios + q272's dup-bigram
    // mass (0 for bigram-free docs), thresholds compared on the same
    // 6-dp-rounded values.
    "q288_gopher_filter" ->
      s"""WITH base AS (SELECT doc_id,
              CAST(len($tokSql) AS BIGINT) AS n_tokens,
              round(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                * 1.0 / len($tokSql), 6) AS mean_word_len,
              round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                * 1.0 / length(text), 6) AS symbol_ratio,
              round(len(list_filter($tokSql, t -> t IN ($stopList)))
                * 1.0 / len($tokSql), 6) AS stop_ratio
            FROM documents),
          bg AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(len($tokSql) - 1),
                           i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                       FROM documents WHERE len($tokSql) >= 2)
                 GROUP BY doc_id, g),
          dup AS (SELECT doc_id,
                    round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS ds
                  FROM bg GROUP BY doc_id),
          j AS (SELECT b.*, coalesce(d.ds, 0.0) AS dup_bigram_share
                FROM base b LEFT JOIN dup d USING (doc_id))
          SELECT doc_id, n_tokens, mean_word_len, symbol_ratio, stop_ratio,
            dup_bigram_share,
            n_tokens BETWEEN 20 AND 100000 AS r_word_count,
            mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len,
            symbol_ratio <= 0.1 AS r_symbol,
            stop_ratio >= 0.05 AS r_stop,
            dup_bigram_share <= 0.1 AS r_dup,
            (n_tokens BETWEEN 20 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
              AND symbol_ratio <= 0.1 AND stop_ratio >= 0.05
              AND dup_bigram_share <= 0.1 AS pass
          FROM j ORDER BY doc_id""",
    // packingStats replay: q75's bin identity, then the per-(source,
    // bin) token/doc sums and the fill/waste arithmetic.
    "q289_packing_stats" ->
      s"""WITH p AS (SELECT doc_id, source, nt,
              CAST(floor((sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - nt) / 512.0) AS BIGINT) AS bin
            FROM (SELECT doc_id, source, CAST(len($tokSql) AS BIGINT) AS nt
                  FROM documents)),
          b AS (SELECT source, bin, CAST(sum(nt) AS BIGINT) AS tok,
                  count(*) AS docs FROM p GROUP BY source, bin)
          SELECT source, count(*) AS n_bins, CAST(sum(docs) AS BIGINT) AS n_docs,
            round(CAST(sum(tok) AS DOUBLE) / CAST(count(*) * 512 AS DOUBLE), 6)
              AS mean_fill,
            round(CAST(sum(CASE WHEN tok < 409.6 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 6) AS underfull_share,
            round(CAST(sum(greatest(512 - tok, 0)) AS DOUBLE)
              / CAST(count(*) * 512 AS DOUBLE), 6) AS waste_share
          FROM b GROUP BY source ORDER BY source""",
    // tokenEntropy replay: per-(doc, token) counts, ln(c) micro-nats,
    // exact integer Σ c·ln c, H = ln(n) − S/n at the edge.
    "q280_token_entropy" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
          c AS (SELECT doc_id, tok, count(*) AS c FROM t WHERE tok <> ''
                GROUP BY doc_id, tok),
          l AS (SELECT doc_id, c,
                CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lc FROM c),
          a AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
                sum(c * lc) AS s FROM l GROUP BY doc_id)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
            CAST(n_types AS BIGINT) AS n_types,
            round((round(ln(CAST(n_tokens AS DOUBLE)) * 1000000, 0)
              - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 1000000.0, 6) AS entropy
          FROM a ORDER BY doc_id""",
    "q30_text_stats" ->
      s"""SELECT doc_id, n_tokens, n_uniq_tokens,
          round(n_nospace * 1.0 / n_tokens, 6) AS mean_tok_len,
          round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
          round((length(text) - n_clean) * 1.0 / length(text), 6) AS punct_ratio
          FROM (SELECT doc_id, text,
            CAST(len($tokSql) AS BIGINT) AS n_tokens,
            CAST(len(list_distinct($tokSql)) AS BIGINT) AS n_uniq_tokens,
            length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nospace,
            len(list_filter($tokSql, t -> t IN ($stopList))) AS n_stop,
            length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_clean
          FROM documents) ORDER BY doc_id""",
    "q31_langid" ->
      s"""SELECT doc_id, lang, lang_pred FROM $langScoreSql ORDER BY doc_id""",
    "q259_langid_confusion" ->
      s"""SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM $langScoreSql GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",
    "q32_quality" ->
      s"""SELECT doc_id, round(
            least(n_chars / 500.0, 1.0) * 0.4
            + (1.0 - least(round((length(text) - n_clean) * 1.0 / length(text), 6) * 5.0, 1.0)) * 0.3
            + least(round(n_stop * 1.0 / len($tokSql), 6) * 10.0, 1.0) * 0.3, 6) AS quality
          FROM (SELECT doc_id, n_chars, text,
            len(list_filter($tokSql, t -> t IN ($stopList))) AS n_stop,
            length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_clean
          FROM documents) ORDER BY doc_id""",
    "q33_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string($tokSetSql, ' ')) AS fingerprint FROM documents ORDER BY doc_id""",
    "q34_exact_dedup" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 2 = 0)
          SELECT min(doc_id) AS doc_id FROM u GROUP BY md5(text) ORDER BY doc_id""",
    "q35_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, source, $shingleSql AS s FROM documents),
          inv AS (SELECT doc_id, source, n, ${phashSql("g")} AS g
                  FROM (SELECT doc_id, source, len(s) AS n, unnest(s) AS g FROM sh)),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM inv a JOIN inv b ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT id_a, id_b, round(shared * 1.0 / (na + nb - shared), 6) AS jaccard
          FROM p WHERE round(shared * 1.0 / (na + nb - shared), 6) >= 0.3
          ORDER BY id_a, id_b""",
    // Positional 3-gram hashes packed with position (h*2^21+pos), min
    // over each 4-window of consecutive grams, distinct selected hashes,
    // df-capped inverted self-join — the same arithmetic at every step.
    "q197_winnow_overlap" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS t FROM documents
                        WHERE len($tokSql) >= 3),
          g AS (SELECT doc_id, i + 1 AS pos,
                       (${phashSql("t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]")}
                        % 2147483647) * 2097152 + i + 1 AS ch
                FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)),
          m AS (SELECT doc_id, pos,
                       min(ch) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mch,
                       count(*) OVER (PARTITION BY doc_id) AS n FROM g),
          fp AS (SELECT DISTINCT doc_id, mch // 2097152 AS h FROM m
                 WHERE pos <= greatest(1, n - 3)),
          fc AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM fp),
          fx AS (SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS nf
                 FROM fc WHERE df <= 50),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                       any_value(a.nf) AS na, any_value(b.nf) AS nb
                FROM fx a JOIN fx b ON a.h = b.h AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT id_a, id_b, shared,
                 round(shared * 1.0 / least(na, nb), 6) AS overlap
          FROM p WHERE shared >= 2 ORDER BY id_a, id_b""",
    // q35's pair-count CTE, re-read directionally: shared/na and
    // shared/nb from the one aggregation.
    "q166_containment" ->
      s"""WITH sh AS (SELECT doc_id, source, $shingleSql AS s FROM documents),
          inv AS (SELECT doc_id, source, n, ${phashSql("g")} AS g
                  FROM (SELECT doc_id, source, len(s) AS n, unnest(s) AS g FROM sh)),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM inv a JOIN inv b ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
          d AS (SELECT id_a AS id_contained, id_b AS id_container,
                       round(shared * 1.0 / na, 6) AS containment FROM p
                UNION ALL
                SELECT id_b, id_a, round(shared * 1.0 / nb, 6) FROM p)
          SELECT id_contained, id_container, containment FROM d
          WHERE containment >= 0.6 ORDER BY id_contained, id_container""",
    // Shingles hashed with the same portable 60-bit phash as the Spark
    // path, so intersection semantics (including any hash collision)
    // match exactly — same contract as q35's oracle.
    "q64_ngram_prefix" ->
      s"""WITH sh AS (SELECT doc_id, list_transform(${shingleSqlN(3)}, g -> ${phashSql("g")}) AS s FROM documents),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.s, b.s)) AS shared, len(a.s) AS na, len(b.s) AS nb
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s)) > 0)
          SELECT id_a, id_b, round(shared * 1.0 / (na + nb - shared), 6) AS jaccard
          FROM p WHERE round(shared * 1.0 / (na + nb - shared), 6) >= 0.8
          ORDER BY id_a, id_b""",
    "q36_minhash_lsh" ->
      s"""WITH $minhashPairsCte
          SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b""",
    // mixtureAllocation replay: identical integer water-filling over
    // the 20-row domain table — same scarcity order, same
    // cross-multiplied cap test, same floor divisions; the target
    // shares are the SAME driver-side constants inlined as VALUES.
    "q327_mixture_allocation" -> {
      val values = mixTargets
        .map { case (d, t) => s"('$d', $t)" }.mkString(", ")
      s"""WITH av AS (SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS a
                  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
          tg AS (SELECT * FROM (VALUES $values) AS t(domain, tm)),
          d AS (SELECT domain, a, CAST(tm AS BIGINT) AS t
                FROM av JOIN tg USING (domain) WHERE tm > 0 AND a >= 0),
          f AS (SELECT domain, a, t,
                  CAST(sum(a) OVER () AS BIGINT) * 600000 // 1000000 AS bud,
                  CAST(COALESCE(sum(a) OVER (ORDER BY (a * 1000000) // t, domain
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cuma,
                  CAST(COALESCE(sum(t) OVER (ORDER BY (a * 1000000) // t, domain
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumt
                FROM d),
          g AS (SELECT *, a * (1000000 - cumt) <= (bud - cuma) * t AS capped FROM f),
          h AS (SELECT *,
                  CAST(COALESCE(sum(CASE WHEN capped THEN a END) OVER (), 0) AS BIGINT) AS capa,
                  CAST(COALESCE(sum(CASE WHEN capped THEN t END) OVER (), 0) AS BIGINT) AS capt
                FROM g)
          SELECT domain, a AS available, t AS target_micro, capped,
                 CASE WHEN capped THEN a
                      ELSE least(a, greatest(0, (t * (bud - capa))
                                               // greatest(1000000 - capt, 1))) END
                   AS allocated
          FROM h ORDER BY domain"""
    },
    // epochAllocation replay: same availability agg and target VALUES
    // table as q327, then pure BIGINT budget/want/cap/served arithmetic
    // (window sum cast back per the HUGEINT rule).
    "q334_epoch_allocation" -> {
      val values = mixTargets
        .map { case (d, t) => s"('$d', $t)" }.mkString(", ")
      s"""WITH av AS (SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS a
                  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
          tg AS (SELECT * FROM (VALUES $values) AS t(domain, tm)),
          d AS (SELECT domain, a, CAST(tm AS BIGINT) AS t
                FROM av JOIN tg USING (domain) WHERE tm > 0 AND a >= 0),
          f AS (SELECT *, (CAST(sum(a) OVER () AS BIGINT) * 3000000) // 1000000 AS bud
                FROM d),
          g AS (SELECT domain, a, t, (bud * t) // 1000000 AS want,
                  (a * 4000000) // 1000000 AS cap FROM f),
          h AS (SELECT *, least(want, cap) AS served FROM g)
          SELECT domain, a AS available, t AS target_micro,
                 want AS want_tokens, served AS served_tokens,
                 CASE WHEN a > 0 THEN (served * 1000000) // a
                      ELSE CAST(0 AS BIGINT) END AS epochs_micro,
                 served - least(a, served) AS repeated_tokens,
                 want - served AS shortfall_tokens
          FROM h ORDER BY domain"""
    },
    // lshBandPrecisionAudit replay: q36's full CTE chain (cand = raw
    // band collisions, j = exact jaccard per candidate) already IS the
    // audit's two sides — just count them.
    "q335_lsh_precision" ->
      s"""WITH $minhashPairsCte,
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
          ver AS (SELECT CAST(count(*) AS BIGINT) AS n_verified FROM j
                  WHERE jaccard >= 0.3)
          SELECT n_candidates, n_verified,
                 n_candidates - n_verified AS n_wasted,
                 CASE WHEN n_candidates > 0
                      THEN round(n_verified * 1.0 / n_candidates, 6)
                 END AS band_precision
          FROM tot CROSS JOIN ver""",
    // dedupThresholdCurve replay: q36's candidate+jaccard chain, then
    // the literal threshold grid cross-joined and counted — the t/1e6
    // division is a single correctly-rounded IEEE op on both engines.
    "q338_dedup_threshold_curve" ->
      s"""WITH $minhashPairsCte,
          g AS (SELECT * FROM (VALUES (200000), (300000), (500000), (700000))
                AS t(threshold_micro))
          SELECT CAST(threshold_micro AS BIGINT) AS threshold_micro,
                 CAST(sum(CASE WHEN j.jaccard >= threshold_micro / 1000000.0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN j.jaccard >= threshold_micro / 1000000.0
                               THEN CAST(round(j.jaccard * 1000000, 0) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS sum_jaccard_micro
          FROM j CROSS JOIN g
          GROUP BY threshold_micro ORDER BY threshold_micro""",
    // mixtureWeightUpdate replay: same per-source counts and short-doc
    // excess proxy, the linearized factor (eta 0.5 in micro), and the
    // exact largest-remainder renormalization to 1e6 — all BIGINT (window
    // sums cast back per the HUGEINT rule).
    "q332_doremi_update" ->
      """WITH agg AS (SELECT source AS domain, CAST(count(*) AS BIGINT) AS w,
                  (1000000 * CAST(sum(CASE WHEN n_chars < 250 THEN 1 ELSE 0 END) AS BIGINT))
                    // count(*) AS x
                FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
          m AS (SELECT domain, w, x,
                  (w * (1000000 + (500000 * x) // 1000000)) // 1000000 AS m
                FROM agg WHERE w > 0),
          t AS (SELECT *, CAST(sum(m) OVER () AS BIGINT) AS s FROM m),
          qd AS (SELECT *, (m * 1000000) // s AS q,
                    m * 1000000 - ((m * 1000000) // s) * s AS rem FROM t),
          fin AS (SELECT *, 1000000 - CAST(sum(q) OVER () AS BIGINT) AS leftq,
                    row_number() OVER (ORDER BY rem DESC, domain) AS rk FROM qd)
          SELECT domain, w AS w_in, x AS excess_micro,
                 CAST(q + CASE WHEN rk <= leftq THEN 1 ELSE 0 END AS BIGINT) AS w_new_micro
          FROM fin ORDER BY domain""",
    // splitLeakageAudit replay: q150's cross-corpus band chain with the
    // even/odd predicates swapped for the engine's hash-bucket split
    // (md5 protocol, cut at 800000 of 1e6); exact counts, one 6-dp rate.
    "q325_split_leakage" ->
      s"""WITH bkt AS (SELECT doc_id,
                CAST('0x' || substr(md5('graft-sample|' || doc_id), 1, 15) AS BIGINT)
                  % 1000000 AS u
              FROM documents),
          sh AS (SELECT doc_id, $shingleSql AS s FROM documents WHERE len($tokSql) >= 2),
          th AS (SELECT doc_id, ${phashSql("g")} % 2147483647 AS h
                 FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
          mh AS (SELECT doc_id, j, min(((2*j + 1001) * h + (3*j + 17)) % 2147483647) AS m
                 FROM th CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
          sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM mh GROUP BY doc_id),
          band AS (SELECT doc_id, b, md5(array_to_string(sg[b*4+1 : b*4+4], ',')) AS bk
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                   FROM band a JOIN bkt ba ON ba.doc_id = a.doc_id
                   JOIN band c ON a.b = c.b AND a.bk = c.bk
                   JOIN bkt bc ON bc.doc_id = c.doc_id
                   WHERE ba.u < 800000 AND bc.u >= 800000),
          j AS (SELECT id_a, id_b,
                  round(len(list_intersect(x.s, y.s)) * 1.0
                        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
                FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b),
          l AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
          la AS (SELECT count(*) AS n_leak_pairs,
                        count(DISTINCT id_b) AS n_test_leaked FROM l),
          sz AS (SELECT count(*) FILTER (u < 800000) AS n_train,
                        count(*) FILTER (u >= 800000) AS n_test FROM bkt)
          SELECT n_train, n_test, n_leak_pairs, n_test_leaked,
                 CASE WHEN n_test > 0
                      THEN round(n_test_leaked * 1.0 / n_test, 6) END AS leak_rate
          FROM sz CROSS JOIN la""",
    // lshBandRecallAudit replay: q35's exact within-source pair CTE as
    // truth, q36's band-candidate CTE as the tier; counts are plain
    // BIGINTs, one 6-dp recall at the edge.
    "q322_lsh_recall" ->
      s"""WITH $minhashPairsCte,
          shq AS (SELECT doc_id, source, $shingleSql AS s FROM documents),
          inv AS (SELECT doc_id, source, n, ${phashSql("g")} AS g
                  FROM (SELECT doc_id, source, len(s) AS n, unnest(s) AS g FROM shq)),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM inv a JOIN inv b ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
          t AS (SELECT id_a, id_b FROM p
                WHERE round(shared * 1.0 / (na + nb - shared), 6) >= 0.3),
          caught AS (SELECT count(*) AS n_caught FROM t
                     WHERE EXISTS (SELECT 1 FROM cand c
                                   WHERE c.id_a = t.id_a AND c.id_b = t.id_b)),
          tot AS (SELECT count(*) AS n_true FROM t)
          SELECT n_true, n_caught, n_true - n_caught AS n_missed,
                 CASE WHEN n_true > 0
                      THEN round(n_caught * 1.0 / n_true, 6) END AS band_recall
          FROM tot CROSS JOIN caught""",
    // Same signature/band chain; only the candidate stage differs —
    // A-side (even ids) bands join B-side (odd ids) bands, no ordering
    // constraint between the sides.
    "q150_cross_neardup" ->
      s"""WITH sh AS (SELECT doc_id, $shingleSql AS s FROM documents WHERE len($tokSql) >= 2),
          th AS (SELECT doc_id, ${phashSql("g")} % 2147483647 AS h
                 FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
          mh AS (SELECT doc_id, j, min(((2*j + 1001) * h + (3*j + 17)) % 2147483647) AS m
                 FROM th CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
          sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM mh GROUP BY doc_id),
          band AS (SELECT doc_id, b, md5(array_to_string(sg[b*4+1 : b*4+4], ',')) AS bk
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                   FROM band a JOIN band c ON a.b = c.b AND a.bk = c.bk
                   WHERE a.doc_id % 2 = 0 AND c.doc_id % 2 = 1),
          j AS (SELECT id_a, id_b,
                  round(len(list_intersect(x.s, y.s)) * 1.0
                        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
                FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)
          SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b""",
    // The stored-index path answers the SAME question as q150 over the
    // same split — identical ground truth; the incremental index
    // construction must not change a single pair or jaccard digit.
    "q161_neardup_index" ->
      s"""WITH sh AS (SELECT doc_id, $shingleSql AS s FROM documents WHERE len($tokSql) >= 2),
          th AS (SELECT doc_id, ${phashSql("g")} % 2147483647 AS h
                 FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
          mh AS (SELECT doc_id, j, min(((2*j + 1001) * h + (3*j + 17)) % 2147483647) AS m
                 FROM th CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
          sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM mh GROUP BY doc_id),
          band AS (SELECT doc_id, b, md5(array_to_string(sg[b*4+1 : b*4+4], ',')) AS bk
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                   FROM band a JOIN band c ON a.b = c.b AND a.bk = c.bk
                   WHERE a.doc_id % 2 = 0 AND c.doc_id % 2 = 1),
          j AS (SELECT id_a, id_b,
                  round(len(list_intersect(x.s, y.s)) * 1.0
                        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
                FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)
          SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b""",
    // Transitive closure of the q36 pair set via a recursive CTE, then
    // cluster = min reachable id — the oracle for min-label propagation.
    "q76_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
          p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
          edges AS (SELECT id_a AS src, id_b AS dst FROM p
                    UNION SELECT id_b, id_a FROM p),
          reach AS (SELECT src AS id, dst AS r FROM edges
                    UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          lab AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
          SELECT id, CAST(cluster AS BIGINT) AS cluster FROM lab ORDER BY id""",
    // q97 solves the exact problem q76 solves (different distributed
    // algorithm, same semantics) — the ground truth is the same
    // recursive-CTE transitive closure.
    "q97_dedup_clusters_star" ->
      s"""WITH RECURSIVE $minhashPairsCte,
          p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
          edges AS (SELECT id_a AS src, id_b AS dst FROM p
                    UNION SELECT id_b, id_a FROM p),
          reach AS (SELECT src AS id, dst AS r FROM edges
                    UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          lab AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
          SELECT id, CAST(cluster AS BIGINT) AS cluster FROM lab ORDER BY id""",
    "q70_pii_mask" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || doc_id || '@example.com via https://ex.com/d/'
                  || doc_id || ' or +1 555-0100 from 10.2.3.4',
             'https?://[^ ]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+\d{1,2}[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g') AS masked
         FROM documents ORDER BY doc_id""",
    "q71_paragraph_dedup" ->
      """WITH aug AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
                      FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 100),
          lsts AS (SELECT doc_id, string_split_regex(text, '\n{2,}') AS lst FROM aug),
          parts0 AS (SELECT doc_id, lst, unnest(range(len(lst))) AS pos FROM lsts),
          parts AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, lst[CAST(pos AS INT) + 1] AS p
                    FROM parts0 WHERE length(trim(lst[CAST(pos AS INT) + 1])) > 0),
          kept AS (SELECT doc_id, pos, p FROM (
            SELECT doc_id, pos, p,
                   row_number() OVER (PARTITION BY md5(p) ORDER BY doc_id, pos) AS rn
            FROM parts) WHERE rn = 1)
          SELECT doc_id, array_to_string(list(p ORDER BY pos), chr(10) || chr(10)) AS text_dedup
          FROM kept GROUP BY doc_id ORDER BY doc_id""",
    "q83_jsonl_roundtrip" ->
      """SELECT doc_id, source, lang, n_chars, text FROM documents ORDER BY doc_id""",
    "q87_normalize_text" ->
      """SELECT doc_id,
           lower(trim(regexp_replace(regexp_replace(
             nfc_normalize(text || '  CAFE' || chr(769) || chr(9) || 'Mixed   SPACE '),
             '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS normalized
         FROM documents ORDER BY doc_id""",
    "q79_repetition" ->
      s"""WITH tok AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_token_share
                       FROM (SELECT doc_id, t, count(*) AS c
                             FROM (SELECT doc_id, unnest($tokSql) AS t FROM documents)
                             GROUP BY doc_id, t) GROUP BY doc_id),
          bg AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_share
                 FROM (SELECT doc_id, g, count(*) AS c
                       FROM (SELECT doc_id,
                               unnest(list_transform(range(len($tokSql) - 1),
                                 i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                             FROM documents WHERE len($tokSql) >= 2)
                       GROUP BY doc_id, g) GROUP BY doc_id)
          SELECT tok.doc_id, top_token_share, top_bigram_share
          FROM tok LEFT JOIN bg ON tok.doc_id = bg.doc_id ORDER BY tok.doc_id""",
    "q80_unigram_logprob" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokSql) AS t FROM documents),
          v AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
          lp AS (SELECT t, CAST(round(ln(c * 1.0 / (SELECT sum(c) FROM v)) * 1e6, 0) AS BIGINT) AS lpu FROM v)
          SELECT doc_id, round(sum(lpu) * 1.0 / count(*) / 1e6, 6) AS mean_logprob
          FROM tk JOIN lp USING (t) GROUP BY doc_id ORDER BY doc_id""",
    "q135_bigram_logprob" ->
      s"""WITH bgdoc AS (SELECT doc_id, g, count(*) AS dc
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(len($tokSql) - 1),
                           i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                       FROM documents WHERE len($tokSql) >= 2)
                 GROUP BY doc_id, g),
          st AS (SELECT g, CAST(round(ln(CAST(c AS DOUBLE) / ctx) * 1e6, 0) AS BIGINT) AS lpu
                 FROM (SELECT g, sum(dc) AS c,
                         sum(sum(dc)) OVER (PARTITION BY split_part(g, ' ', 1)) AS ctx
                       FROM bgdoc GROUP BY g))
          SELECT doc_id, round(sum(dc * lpu) * 1.0 / sum(dc) / 1e6, 6) AS mean_logprob
          FROM bgdoc JOIN st USING (g) GROUP BY doc_id ORDER BY doc_id""",
    "q77_decontaminate" ->
      s"""WITH tr AS (SELECT doc_id, ${shingleSqlN(8)} AS s FROM documents WHERE doc_id % 50 <> 0),
          ti AS (SELECT doc_id, ${phashSql("g")} AS g FROM (SELECT doc_id, unnest(s) AS g FROM tr)),
          be AS (SELECT DISTINCT ${phashSql("g")} AS g
                 FROM (SELECT unnest(${shingleSqlN(8)}) AS g FROM documents WHERE doc_id % 50 = 0))
          SELECT DISTINCT doc_id FROM ti JOIN be USING (g) ORDER BY doc_id""",
    "q78_ingest_dedup" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
          b AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
                UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1
                UNION ALL SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 5 = 0),
          fresh AS (SELECT doc_id, md5(text) AS h FROM b
                    WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus))
          SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM fresh GROUP BY h ORDER BY doc_id""",
    "q75_pack_sequences" ->
      s"""SELECT doc_id, source, nt AS n_tokens,
            CAST(floor((sum(nt) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt) / 512.0) AS BIGINT) AS bin
          FROM (SELECT doc_id, source, CAST(len($tokSql) AS BIGINT) AS nt FROM documents)
          ORDER BY doc_id""",
    // END-TO-END pipeline replay: normalize → quality → exact dedup →
    // MinHash-LSH near-dup canonicalization (candidates + exact-Jaccard
    // verify + recursive-CTE connected components) → 8-gram benchmark
    // decontamination → hash split → sequence packing, all in one SQL
    // chain composed from the per-stage oracles (q87/q72/q34/q36/q97/
    // q77/q74/q75) with the pipeline's own parameters. The composition —
    // not just each stage — is hash-checked.
    "q88_corpus_pipeline" -> {
      val T = """string_split_regex(text, '\s+')"""
      s"""WITH RECURSIVE
          $corpusChainSql,
          sp AS (SELECT doc_id, source,
                   CASE WHEN sb < 900000 THEN 'train' WHEN sb < 950000 THEN 'val' ELSE 'test' END AS split,
                   CAST(len($T) AS BIGINT) AS n_tokens
                 FROM (SELECT *, CAST('0x' || substr(md5('graft-split|' || doc_id), 1, 15) AS BIGINT) % 1000000 AS sb FROM clean))
          SELECT doc_id, source, split, n_tokens,
            CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT) AS bin
          FROM sp ORDER BY doc_id"""
    },
    // funnel replay: the SAME chain, one count per stage.
    "q314_pipeline_funnel" ->
      s"""WITH RECURSIVE
          $corpusChainSql
          SELECT stage, n_docs FROM (
            SELECT '1_input' AS stage,
              CAST((SELECT count(*) FROM documents WHERE doc_id % 50 <> 0) AS BIGINT) AS n_docs
            UNION ALL SELECT '2_normalized', CAST((SELECT count(*) FROM nrm) AS BIGINT)
            UNION ALL SELECT '3_quality', CAST((SELECT count(*) FROM q) AS BIGINT)
            UNION ALL SELECT '4_exact_dedup', CAST((SELECT count(*) FROM ex) AS BIGINT)
            UNION ALL SELECT '5_near_dedup', CAST((SELECT count(*) FROM near) AS BIGINT)
            UNION ALL SELECT '6_decontaminated', CAST((SELECT count(*) FROM clean) AS BIGINT))
          ORDER BY stage""",
    // Estimator-audit replay: q36's chain + one zip over the signatures.
    "q261_minhash_estimate" ->
      s"""WITH sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(range(len($tokSql) - 1), i -> $tokSql[i+1] || ' ' || $tokSql[i+2]))) AS s FROM documents WHERE len($tokSql) >= 2),
          th AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 2147483647 AS h
                 FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
          mh AS (SELECT doc_id, j, min(((2*j + 1001) * h + (3*j + 17)) % 2147483647) AS m
                 FROM th CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
          sig AS (SELECT doc_id, list(m ORDER BY j) AS sg FROM mh GROUP BY doc_id),
          band AS (SELECT doc_id, b, md5(array_to_string(sg[b*4+1 : b*4+4], ',')) AS bk
                   FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                   FROM band a JOIN band c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
          j AS (SELECT id_a, id_b,
                  round(len(list_intersect(x.s, y.s)) * 1.0
                        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
                FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b),
          e AS (SELECT id_a, id_b, jaccard,
                  round(len(list_filter(range(16), i -> sa.sg[i+1] = sb.sg[i+1])) / 16.0, 6) AS est_jaccard
                FROM j JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
                WHERE jaccard >= 0.3)
          SELECT id_a, id_b, jaccard, est_jaccard,
                 round(abs(est_jaccard - jaccard), 6) AS abs_err
          FROM e ORDER BY id_a, id_b""",
    // Novelty replay: same 8-gram hashes, min-owner, novel share.
    "q258_ngram_novelty" -> {
      val ph = (x: String) => s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
      val g8 = (1 to 8).map(k => s"t[i+$k]").mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id, $tokSql AS t FROM documents),
          grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
                      range(len(t) - 7), i -> ${ph(g8)}))) AS g
                    FROM tk WHERE len(t) >= 8),
          fst AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                 round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS novelty
          FROM grams JOIN fst USING (g)
          GROUP BY doc_id ORDER BY doc_id"""
    },
    // TextRank replay: same eligibility filter, undirected-pair dedup,
    // 60-bit word hash, and the q125 3-round integer-micro PageRank.
    "q254_textrank" -> {
      val stop = graft.ops.TextAnalysis.Stopwords
        .map(w => s"'$w'").mkString(", ")
      val ph = (x: String) => s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
      s"""WITH t AS (SELECT $tokSql AS tk FROM documents),
          pr AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
                   SELECT tk[i+1] AS a, tk[i+2] AS b
                   FROM (SELECT tk, unnest(range(len(tk) - 1)) AS i FROM t))
                 WHERE length(a) >= 4 AND length(b) >= 4
                   AND a NOT IN ($stop) AND b NOT IN ($stop) AND a <> b),
          e AS (SELECT ${ph("a")} AS src, ${ph("b")} AS dst FROM pr
                UNION SELECT ${ph("b")}, ${ph("a")} FROM pr),
          n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          d AS (SELECT src, count(*) AS od FROM e GROUP BY src),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
          i1 AS (SELECT e.dst AS node, SUM(r.r // d.od) AS m FROM e JOIN r0 r ON e.src = r.node JOIN d ON e.src = d.src GROUP BY e.dst),
          r1 AS (SELECT n.node, 150000 + CAST(850 * COALESCE(i1.m, 0) AS BIGINT) // 1000 AS r FROM n LEFT JOIN i1 USING (node)),
          i2 AS (SELECT e.dst AS node, SUM(r.r // d.od) AS m FROM e JOIN r1 r ON e.src = r.node JOIN d ON e.src = d.src GROUP BY e.dst),
          r2 AS (SELECT n.node, 150000 + CAST(850 * COALESCE(i2.m, 0) AS BIGINT) // 1000 AS r FROM n LEFT JOIN i2 USING (node)),
          i3 AS (SELECT e.dst AS node, SUM(r.r // d.od) AS m FROM e JOIN r2 r ON e.src = r.node JOIN d ON e.src = d.src GROUP BY e.dst),
          r3 AS (SELECT n.node, 150000 + CAST(850 * COALESCE(i3.m, 0) AS BIGINT) // 1000 AS r FROM n LEFT JOIN i3 USING (node)),
          w AS (SELECT a AS word FROM pr UNION SELECT b FROM pr)
          SELECT word, CAST(r AS BIGINT) AS rank_micro
          FROM w JOIN r3 ON ${ph("word")} = r3.node
          ORDER BY rank_micro DESC, word LIMIT 25"""
    },
    // Budget selection replay: plain global window (the oracle side can
    // afford the single-task sort DuckDB does anyway).
    "q255_budget_select" -> {
      val stop = graft.ops.TextAnalysis.Stopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT doc_id,
                 round(len(list_filter($tokSql, t -> t IN ($stop))) * 1.0 / len($tokSql), 6) AS quality,
                 CAST(len($tokSql) AS BIGINT) AS n_tokens
               FROM documents)
          SELECT doc_id, quality, n_tokens, cum_tokens FROM (
            SELECT doc_id, quality, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM d)
          WHERE cum_tokens <= 15000 ORDER BY doc_id"""
    },
    // BPE TRAINING replay: 8 unrolled rounds, each a vocab-wide pair
    // count (overlapping occurrences, weighted by word frequency), a
    // (n DESC, "l r" ASC) argmax, and a double-space replace() merge
    // pass — the same greedy left-to-right walk the engine's fold does.
    "q253_bpe_train" -> {
      val rounds = (0 until 8).map { k =>
        s"""p$k AS MATERIALIZED (SELECT l, r, n FROM (
               SELECT pr[1] AS l, pr[2] AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
                 SELECT cnt, unnest(list_transform(range(len(ls) - 1), i -> [ls[i+1], ls[i+2]])) AS pr
                 FROM (SELECT cnt, string_split(trim(s, ' '), '  ') AS ls FROM s$k))
               GROUP BY 1, 2)
             ORDER BY n DESC, l || ' ' || r ASC LIMIT 1),
           s${k + 1} AS MATERIALIZED (SELECT word, cnt,
               replace(s, ' ' || (SELECT l FROM p$k) || '  ' || (SELECT r FROM p$k) || ' ',
                       ' ' || (SELECT l FROM p$k) || (SELECT r FROM p$k) || ' ') AS s
             FROM s$k)"""
      }.mkString(",\n")
      val unions = (0 until 8)
        .map(k => s"""SELECT $k AS rank, l AS "left", r AS "right", n FROM p$k""")
        .mkString(" UNION ALL ")
      s"""WITH
          wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM
                   (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word FROM documents)
                 WHERE word <> '' GROUP BY word),
          s0 AS MATERIALIZED (SELECT word, cnt,
                   ' ' || array_to_string(list_transform(range(1, length(word)+1), i -> word[i]), '  ') || ' ' AS s
                 FROM wc),
          $rounds
          SELECT CAST(rank AS BIGINT) AS rank, "left", "right", n
          FROM ($unions) ORDER BY rank"""
    },
    // Full BPE merge-loop replay: per distinct word, a recursive CTE
    // applies the best-ranked pair present (ONE left-to-right pass per
    // step — DOUBLE-space separators make SQL replace() scan symbols
    // exactly like the kernel's j+=2 walk, no flank-space stealing on
    // adjacent occurrences) until no table pair remains; doc counts sum
    // the per-word survivors and the q75 window replays the packing.
    // The merges VALUES are generated from the SAME classpath table the
    // native kernel loads.
    "q89_bpe_pack" -> {
      val vals = graft.functions.BpeImpl.mergePairs.zipWithIndex
        .map { case ((l, r), i) => s"(' $l  $r ', ' $l$r ', $i)" }
        .mkString(", ")
      s"""WITH RECURSIVE
          merges(pair, merged, rank) AS (VALUES $vals),
          dw AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
                 FROM documents),
          uw AS (SELECT DISTINCT word FROM dw WHERE word <> ''),
          tok(word, s, it) AS (
              SELECT word,
                     ' ' || array_to_string(list_transform(range(1, length(word)+1), i -> word[i]), '  ') || ' ',
                     0
              FROM uw
            UNION ALL
              SELECT t.word, replace(t.s, b.pair, b.merged), t.it + 1
              FROM tok t, LATERAL (
                SELECT m.pair, m.merged FROM merges m
                WHERE position(m.pair IN t.s) > 0
                ORDER BY m.rank LIMIT 1) b
          ),
          final AS (SELECT word, max_by(s, it) AS s FROM tok GROUP BY word),
          wc AS (SELECT word, len(string_split(trim(s, ' '), '  ')) AS n FROM final),
          nb AS (SELECT d.doc_id, d.source,
                        CAST(coalesce(t.nb, 0) AS BIGINT) AS n_bpe
                 FROM documents d LEFT JOIN
                   (SELECT dw.doc_id, sum(wc.n) AS nb
                    FROM dw JOIN wc USING (word) GROUP BY dw.doc_id) t
                 USING (doc_id))
          SELECT doc_id, source, n_bpe,
                 CAST(floor((sum(n_bpe) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_bpe) / 2048.0) AS BIGINT) AS bin
          FROM nb ORDER BY doc_id"""
    },
    // JSD with integer-count lns: p/m = 2*ca*nb/(ca*nb + cb*na); per-
    // token terms micro-rounded; top-20 by (term desc, token).
    "q179_token_drift" ->
      s"""WITH ca AS (SELECT t AS token, count(*) AS count_a
                 FROM (SELECT unnest($tokSql) AS t FROM documents WHERE doc_id % 2 = 0)
                 GROUP BY t),
          cb AS (SELECT t AS token, count(*) AS count_b
                 FROM (SELECT unnest($tokSql) AS t FROM documents WHERE doc_id % 2 = 1)
                 GROUP BY t),
          j AS (SELECT coalesce(ca.token, cb.token) AS token,
                  coalesce(count_a, 0) AS count_a, coalesce(count_b, 0) AS count_b
                FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
          t AS (SELECT token, count_a, count_b,
                  CAST(sum(count_a) OVER () AS BIGINT) AS na,
                  CAST(sum(count_b) OVER () AS BIGINT) AS nb
                FROM j),
          m AS (SELECT token, count_a, count_b,
                  CAST(round((
                    (CASE WHEN count_a > 0
                          THEN (count_a / CAST(na AS DOUBLE)) * CAST(
                            CAST(round(ln(CAST(CAST(count_a AS HUGEINT) * nb * 2 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                            - CAST(round(ln(CAST(CAST(count_a AS HUGEINT) * nb + CAST(count_b AS HUGEINT) * na AS DOUBLE)) * 1e6, 0) AS BIGINT) AS DOUBLE)
                          ELSE 0.0 END)
                  + (CASE WHEN count_b > 0
                          THEN (count_b / CAST(nb AS DOUBLE)) * CAST(
                            CAST(round(ln(CAST(CAST(count_b AS HUGEINT) * na * 2 AS DOUBLE)) * 1e6, 0) AS BIGINT)
                            - CAST(round(ln(CAST(CAST(count_a AS HUGEINT) * nb + CAST(count_b AS HUGEINT) * na AS DOUBLE)) * 1e6, 0) AS BIGINT) AS DOUBLE)
                          ELSE 0.0 END)) / 2, 0) AS BIGINT) AS term_micro
                FROM t),
          tot AS (SELECT CAST(sum(term_micro) AS BIGINT) AS jsd_micro FROM m)
          SELECT token, count_a, count_b, term_micro, jsd_micro
          FROM (SELECT * FROM m ORDER BY term_micro DESC, token LIMIT 20), tot
          ORDER BY term_micro DESC, token""",
    // Same explicit code-point classes (RE2 and Java regex agree);
    // exact counts, ppm = one integer-ratio double.
    "q247_encoding_audit" ->
      """WITH c AS (SELECT source,
                      coalesce(length(text), 0) AS nc,
                      CASE WHEN text IS NULL THEN 0
                           ELSE len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) END AS ctl,
                      CASE WHEN text IS NULL THEN 0
                           ELSE len(regexp_extract_all(text, '\x{fffd}')) END AS rep,
                      CASE WHEN text IS NULL THEN 0
                           ELSE len(regexp_extract_all(text, '\x{00a0}')) END AS nbsp
                 FROM documents),
          a AS (SELECT source, count(*) AS n_docs,
                       CAST(sum(nc) AS BIGINT) AS n_chars,
                       CAST(sum(ctl) AS BIGINT) AS n_ctrl,
                       CAST(sum(rep) AS BIGINT) AS n_replacement,
                       CAST(sum(nbsp) AS BIGINT) AS n_nbsp,
                       CAST(sum(CASE WHEN ctl + rep > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_docs
                FROM c GROUP BY source)
          SELECT source, n_docs, n_chars, n_ctrl, n_replacement, n_nbsp, n_bad_docs,
                 CASE WHEN n_chars > 0
                      THEN round(CAST(CAST(n_ctrl AS HUGEINT) * 1000000 AS DOUBLE)
                                 / CAST(n_chars AS DOUBLE), 2) END AS ctrl_ppm,
                 CASE WHEN n_chars > 0
                      THEN round(CAST(CAST(n_replacement AS HUGEINT) * 1000000 AS DOUBLE)
                                 / CAST(n_chars AS DOUBLE), 2) END AS repl_ppm
          FROM a ORDER BY source""",
    // Same md5-rank universe indexing + hash draws; collisions with a
    // positive drop via the same anti-join.
    "q246_negative_sample" -> {
      val draw = phashSql("'graft-neg|' || a || '|' || j")
      s"""WITH items AS (SELECT DISTINCT p_partkey AS item FROM part),
          nn AS (SELECT count(*) AS n FROM items),
          ranked AS (SELECT row_number() OVER (ORDER BY md5(CAST(item AS VARCHAR)), item) - 1 AS r,
                            item
                     FROM items),
          anchors AS (SELECT DISTINCT l_orderkey AS a FROM lineitem
                      WHERE l_orderkey % 10 = 0),
          cands AS (SELECT DISTINCT a, $draw % (SELECT n FROM nn) AS r
                    FROM anchors CROSS JOIN (SELECT unnest(range(0, 3)) AS j)),
          pos AS (SELECT DISTINCT l_orderkey AS a, l_partkey AS item
                  FROM lineitem WHERE l_orderkey % 10 = 0)
          SELECT c.a AS l_orderkey, ranked.item AS negative
          FROM cands c JOIN ranked ON ranked.r = c.r
          ANTI JOIN pos ON pos.a = c.a AND pos.item = ranked.item
          ORDER BY l_orderkey, negative"""
    },
    // Count-of-counts in exact integers; the two ratios replay the
    // engine's double shapes (chao1 numerator widens to HUGEINT first).
    "q240_good_turing" ->
      s"""WITH tok AS (SELECT unnest($tokSql) AS t FROM documents),
          c AS (SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY t),
          a AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
                       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
                FROM c)
          SELECT n_tokens, vocab, f1, f2,
                 CASE WHEN n_tokens > 0
                      THEN round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                 END AS unseen_mass,
                 CASE WHEN f2 > 0
                      THEN round(CAST(vocab AS DOUBLE)
                                 + CAST(CAST(f1 AS HUGEINT) * f1 AS DOUBLE)
                                   / (2.0 * CAST(f2 AS DOUBLE)), 6)
                 END AS chao1
          FROM a""",
    // Micro-mass HUGEINT squares; hhi and 1/hhi replay the engine's
    // single double division.
    "q241_hhi" ->
      """WITH m AS (SELECT lang AS g, source AS mm,
                      sum(CAST(round(n_chars * 1000000.0, 0) AS HUGEINT)) AS mass
                 FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
          a AS (SELECT g, count(*) AS n_members, sum(mass) AS tot,
                       sum(mass * mass) AS sq
                FROM m GROUP BY g)
          SELECT g AS lang, n_members,
                 CASE WHEN tot > 0
                      THEN round(CAST(sq AS DOUBLE) / CAST(tot * tot AS DOUBLE), 6)
                 END AS hhi,
                 CASE WHEN tot > 0
                      THEN round(1.0 / (CAST(sq AS DOUBLE) / CAST(tot * tot AS DOUBLE)), 6)
                 END AS effective_n
          FROM a ORDER BY lang""",
    "q237_token_fertility" ->
      s"""SELECT lang, count(*) AS n_docs,
            CAST(sum(len(list_filter($tokSql, t -> t <> ''))) AS BIGINT) AS n_tokens,
            CAST(sum(length(text)) AS BIGINT) AS n_chars,
            CASE WHEN sum(len(list_filter($tokSql, t -> t <> ''))) > 0
                 THEN round(CAST(sum(length(text)) AS DOUBLE)
                            / CAST(sum(len(list_filter($tokSql, t -> t <> ''))) AS DOUBLE), 6)
            END AS chars_per_token
          FROM documents GROUP BY lang ORDER BY lang""",
    // Same per-source bottom-k hash sketches; the pair estimator is
    // union-est x shared-fraction (Beyer et al.), replayed row-exact.
    "q238_source_overlap" -> {
      val u = s"(${phashSql("'graft-kmv|' || tok")} % 1000000 + 0.5) / 1000000.0"
      s"""WITH t AS (SELECT source, unnest($tokSql) AS tok FROM documents),
          h AS (SELECT DISTINCT source AS g, $u AS u
                FROM t WHERE tok <> ''),
          sk AS (SELECT g, u FROM (SELECT g, u,
                   row_number() OVER (PARTITION BY g ORDER BY u) AS rn FROM h)
                 WHERE rn <= 256),
          gs AS (SELECT DISTINCT g FROM sk),
          pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
          m AS (SELECT ga, gb, u, max(ia) AS ia, max(ib) AS ib
                FROM (SELECT pr.ga, pr.gb, sk.u, 1 AS ia, 0 AS ib
                      FROM pr JOIN sk ON sk.g = pr.ga
                      UNION ALL
                      SELECT pr.ga, pr.gb, sk.u, 0 AS ia, 1 AS ib
                      FROM pr JOIN sk ON sk.g = pr.gb)
                GROUP BY ga, gb, u),
          mk AS (SELECT * FROM (SELECT m.*,
                   row_number() OVER (PARTITION BY ga, gb ORDER BY u) AS rn FROM m)
                 WHERE rn <= 256),
          a AS (SELECT ga, gb, count(*) AS nm, max(u) AS uk,
                       CAST(sum(ia * ib) AS BIGINT) AS nboth
                FROM mk GROUP BY ga, gb),
          f AS (SELECT ga, gb, nm, nboth,
                  CASE WHEN nm < 256 THEN CAST(nm AS DOUBLE)
                       ELSE (256 - 1) / uk END AS ue
                FROM a)
          SELECT ga AS group_a, gb AS group_b,
                 round(ue, 6) AS union_est,
                 CASE WHEN nm > 0 THEN round(ue * nboth / nm, 6)
                      ELSE 0.0 END AS intersect_est,
                 CASE WHEN nm > 0
                      THEN round(CAST(nboth AS DOUBLE) / CAST(nm AS DOUBLE), 6)
                      ELSE 0.0 END AS jaccard_est
          FROM f ORDER BY group_a, group_b"""
    },
    // Same portable counting heuristics (vowel-group syllables floored
    // at the word count), one fixed-shape double at the edge.
    "q227_readability" ->
      """WITH c AS (SELECT doc_id,
                      greatest(CAST(len(list_filter(string_split_regex(lower(trim(text)), '[.!?]+'),
                                         s -> trim(s) <> '')) AS BIGINT), 1) AS n_sentences,
                      CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                               t -> t <> '')) AS BIGINT) AS n_words,
                      CAST(len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')) AS BIGINT) AS vg
                 FROM documents)
          SELECT doc_id, n_sentences, n_words,
                 greatest(vg, n_words) AS n_syllables,
                 CASE WHEN n_words > 0
                      THEN round(206.835
                                 - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
                                 - 84.6 * CAST(greatest(vg, n_words) AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
                 END AS flesch
          FROM c ORDER BY doc_id""",
    "q229_kfold" -> {
      val fv = phashSql("'graft-fold|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT lang, CAST($fv % 5 AS BIGINT) AS fold, count(*) AS n
          FROM documents GROUP BY 1, 2 ORDER BY lang, fold"""
    },
    // Same micro-nat log fixing before summation; OLS numerators in
    // HUGEINT, the three edge divisions replay the engine's doubles.
    "q221_zipf_slope" ->
      s"""WITH tok AS (SELECT unnest($tokSql) AS t FROM documents),
          c AS (SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY t
                ORDER BY c DESC, t LIMIT 500),
          xy AS (SELECT
                   CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, t) AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
                   CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
                 FROM c),
          a AS (SELECT count(*) AS k,
                       sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                       sum(CAST(x AS HUGEINT) * x) AS sxx,
                       sum(CAST(y AS HUGEINT) * y) AS syy,
                       sum(CAST(x AS HUGEINT) * y) AS sxy
                FROM xy),
          f AS (SELECT k,
                       CAST(k * sxy - sx * sy AS DOUBLE) AS num,
                       CAST(k * sxx - sx * sx AS DOUBLE) AS denx,
                       CAST(k * syy - sy * sy AS DOUBLE) AS deny,
                       CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM a)
          SELECT k,
                 CASE WHEN denx > 0 THEN round(num / denx, 6) END AS slope,
                 CASE WHEN denx > 0
                      THEN round((syd - (num / denx) * sxd) / CAST(k AS DOUBLE) / 1000000.0, 6)
                 END AS intercept,
                 CASE WHEN denx > 0 AND deny > 0
                      THEN round(num * num / (denx * deny), 6) END AS r2
          FROM f""",
    "q173_epoch_shuffle" ->
      """WITH r AS (SELECT doc_id,
                 row_number() OVER (ORDER BY md5('graft-epoch|' || doc_id), doc_id) AS global_pos
               FROM documents)
         SELECT doc_id, CAST(global_pos AS BIGINT) AS global_pos,
                CAST((global_pos - 1) // 64 AS BIGINT) AS shard,
                CAST((global_pos - 1) % 64 AS BIGINT) AS offset
         FROM r ORDER BY doc_id""",
    "q74_hash_split_sample" ->
      """SELECT doc_id, lang,
           CASE WHEN sb < 800000 THEN 'train' WHEN sb < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
                 CAST('0x' || substr(md5('graft-sample|' || doc_id), 1, 15) AS BIGINT) % 1000000 AS kb,
                 CAST('0x' || substr(md5('graft-split|' || doc_id), 1, 15) AS BIGINT) % 1000000 AS sb
               FROM documents)
         WHERE kb < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 800000 ELSE 650000 END
         ORDER BY doc_id""",
    "q107_cms_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($tokSql) AS term FROM documents),
          t2 AS (SELECT term FROM tok WHERE term <> ''),
          ex AS (SELECT term, count(*) AS n_exact FROM t2 GROUP BY 1),
          top AS (SELECT term, n_exact FROM ex ORDER BY n_exact DESC, term LIMIT 20),
          sk AS (SELECT r, ${phashSql("'graft-cms|' || r || '|' || term")} % 1024 AS bucket,
                   CAST(sum(n_exact) AS BIGINT) AS cnt
                 FROM ex CROSS JOIN (SELECT unnest(range(4)) AS r) GROUP BY 1, 2),
          addr AS (SELECT t.term, rr.r,
                     ${phashSql("'graft-cms|' || rr.r || '|' || t.term")} % 1024 AS bucket
                   FROM top t CROSS JOIN (SELECT unnest(range(4)) AS r) rr),
          est AS (SELECT term, min(coalesce(cnt, 0)) AS cms_est
                  FROM addr LEFT JOIN sk USING (r, bucket) GROUP BY term)
          SELECT t.term, t.n_exact, e.cms_est
          FROM top t JOIN est e USING (term) ORDER BY t.term""",
    "q106_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
          w AS (SELECT doc_id, i AS pos,
                  ${phashSql("array_to_string(tk[i+1:i+10], ' ')")} AS h,
                  doc_id * 1048576 + i AS k
                FROM t, unnest(range(greatest(len(tk) - 9, 0))) AS u(i)),
          f AS (SELECT h, min(k) AS first FROM w GROUP BY h)
          SELECT doc_id AS id, count(*) AS n_windows,
                 CAST(sum(CASE WHEN k > first THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
          FROM w JOIN f USING (h) GROUP BY doc_id HAVING n_dup_windows > 0
          ORDER BY id""",
    "q117_kmv_distinct" ->
      s"""WITH u AS (SELECT DISTINCT
                 (${phashSql("'graft-kmv|' || text")} % 1000000 + 0.5) / 1000000.0 AS u
               FROM documents),
          mk AS (SELECT u FROM u ORDER BY u LIMIT 256),
          st AS (SELECT count(*) AS n, max(u) AS uk FROM mk)
          SELECT (SELECT count(DISTINCT text) FROM documents) AS n_exact,
                 CASE WHEN n < 256 THEN n * 1.0
                      ELSE round((256 - 1) / uk, 6) END AS kmv_est
          FROM st""",
    "q130_cluster_representatives" ->
      s"""WITH RECURSIVE $minhashPairsCte,
          p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
          edges AS (SELECT id_a AS src, id_b AS dst FROM p
                    UNION SELECT id_b, id_a FROM p),
          reach AS (SELECT src AS id, dst AS r FROM edges
                    UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          lab AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id),
          qual AS (SELECT doc_id AS id, round(
                 least(n_chars / 500.0, 1.0) * 0.4
                 + (1.0 - least(round((length(text) - n_clean) * 1.0 / length(text), 6) * 5.0, 1.0)) * 0.3
                 + least(round(n_stop * 1.0 / len($tokSql), 6) * 10.0, 1.0) * 0.3, 6) AS quality
               FROM (SELECT doc_id, n_chars, text,
                 len(list_filter($tokSql, t -> t IN ($stopList))) AS n_stop,
                 length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_clean
               FROM documents)),
          sel AS (SELECT lab.cluster, lab.id, q.quality,
                 row_number() OVER (PARTITION BY lab.cluster ORDER BY q.quality DESC, lab.id) AS rn
               FROM lab JOIN qual q ON lab.id = q.id)
          SELECT CAST(cluster AS BIGINT) AS cluster, CAST(id AS BIGINT) AS rep_id, quality
          FROM sel WHERE rn = 1 ORDER BY cluster""",
    "q131_phrase_match" ->
      s"""WITH ph2 AS (SELECT * FROM (VALUES ('fast table'), ('merge batch')) AS t(phrase)),
          ph3 AS (SELECT * FROM (VALUES ('query key scan'), ('sort table window')) AS t(phrase)),
          g2 AS (SELECT doc_id, unnest(${shingleSqlN(2)}) AS g FROM documents),
          g3 AS (SELECT doc_id, unnest(${shingleSqlN(3)}) AS g FROM documents),
          hits AS (SELECT phrase, doc_id FROM g2 JOIN ph2 ON g2.g = ph2.phrase
                   UNION SELECT phrase, doc_id FROM g3 JOIN ph3 ON g3.g = ph3.phrase)
          SELECT phrase, doc_id FROM hits ORDER BY phrase, doc_id""",
    "q128_kmv_grouped" ->
      s"""WITH u AS (SELECT DISTINCT lang,
                 (${phashSql("'graft-kmv|' || text")} % 1000000 + 0.5) / 1000000.0 AS u
               FROM documents),
          r AS (SELECT lang, u, row_number() OVER (PARTITION BY lang ORDER BY u) AS rn FROM u),
          mk AS (SELECT lang, u FROM r WHERE rn <= 64),
          st AS (SELECT lang, count(*) AS n, max(u) AS uk FROM mk GROUP BY lang),
          ex AS (SELECT lang, count(DISTINCT text) AS n_exact FROM documents GROUP BY lang)
          SELECT lang, n_exact, CASE WHEN n < 64 THEN n * 1.0
                                     ELSE round((64 - 1) / uk, 6) END AS kmv_est
          FROM ex JOIN st USING (lang) ORDER BY lang""",
    "q129_pmi_collocations" ->
      s"""WITH tk AS (SELECT $tokSql AS t FROM documents),
          t2 AS (SELECT t FROM tk WHERE len(t) >= 2),
          bg AS (SELECT unnest(list_transform(range(len(t) - 1),
                        i -> {'x': t[i+1], 'y': t[i+2]}), recursive := true) FROM t2),
          bgc AS (SELECT x, y, count(*) AS c_xy FROM bg GROUP BY x, y),
          uni AS (SELECT tok, count(*) AS c
                  FROM (SELECT unnest(t) AS tok FROM tk) WHERE tok <> '' GROUP BY tok),
          nb AS (SELECT sum(len(t) - 1) AS nb FROM t2),
          nu AS (SELECT sum(c) AS nu FROM uni)
          SELECT x, y, c_xy, cx.c AS c_x, cy.c AS c_y,
                 CAST(c_xy * 1000000000 // (cx.c * cy.c) AS BIGINT) AS lift_ppb,
                 CAST(round(ln((CAST(c_xy AS DOUBLE) * nu * nu) / (CAST(nb AS DOUBLE) * cx.c * cy.c)) * 1e6, 0) AS BIGINT) AS pmi_micro
          FROM bgc JOIN uni cx ON bgc.x = cx.tok JOIN uni cy ON bgc.y = cy.tok, nb, nu
          WHERE c_xy >= 3
          ORDER BY lift_ppb DESC, x, y LIMIT 50""",
    "q123_incremental_ingest" ->
      s"""WITH be AS (SELECT DISTINCT ${phashSql("g")} AS g
                 FROM (SELECT unnest(${shingleSqlN(8)}) AS g FROM documents WHERE doc_id % 50 = 0)),
          b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 AND doc_id % 50 <> 0),
          f1 AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, md5(text) AS h FROM b1) GROUP BY h),
          a1p AS (SELECT d.doc_id, d.text FROM documents d JOIN f1 USING (doc_id)),
          c1 AS (SELECT DISTINCT doc_id FROM
                   (SELECT doc_id, ${phashSql("g")} AS g
                    FROM (SELECT doc_id, unnest(${shingleSqlN(8)}) AS g FROM a1p)) JOIN be USING (g)),
          a1 AS (SELECT doc_id, text FROM a1p WHERE doc_id NOT IN (SELECT doc_id FROM c1)),
          b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 50 <> 0),
          fr2 AS (SELECT doc_id, md5(text) AS h FROM b2
                  WHERE md5(text) NOT IN (SELECT md5(text) FROM a1)),
          f2 AS (SELECT min(doc_id) AS doc_id FROM fr2 GROUP BY h),
          a2p AS (SELECT d.doc_id, d.text FROM documents d JOIN f2 USING (doc_id)),
          c2 AS (SELECT DISTINCT doc_id FROM
                   (SELECT doc_id, ${phashSql("g")} AS g
                    FROM (SELECT doc_id, unnest(${shingleSqlN(8)}) AS g FROM a2p)) JOIN be USING (g)),
          a2 AS (SELECT doc_id FROM a2p WHERE doc_id NOT IN (SELECT doc_id FROM c2))
          SELECT CAST(doc_id AS BIGINT) AS doc_id
          FROM (SELECT doc_id FROM a1 UNION ALL SELECT doc_id FROM a2)
          ORDER BY doc_id""",
    "q122_snapshot_timetravel" ->
      """WITH bf AS (SELECT doc_id, md5(text) AS hb FROM documents),
          af AS (SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 0 THEN 'rev2 ' || text ELSE text END) AS ha
                 FROM documents WHERE doc_id % 11 <> 3
                 UNION ALL
                 SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 19 = 5)
          SELECT doc_id,
                 CASE WHEN hb IS NULL THEN 'added'
                      WHEN ha IS NULL THEN 'removed'
                      WHEN ha = hb THEN 'same' ELSE 'changed' END AS status
          FROM bf FULL OUTER JOIN af USING (doc_id)
          ORDER BY doc_id""",
    "q116_snapshot_diff" ->
      """WITH bf AS (SELECT doc_id, md5(text) AS hb FROM documents),
          af AS (SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 0 THEN 'rev2 ' || text ELSE text END) AS ha
                 FROM documents WHERE doc_id % 11 <> 3
                 UNION ALL
                 SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 19 = 5)
          SELECT doc_id,
                 CASE WHEN hb IS NULL THEN 'added'
                      WHEN ha IS NULL THEN 'removed'
                      WHEN ha = hb THEN 'same' ELSE 'changed' END AS status
          FROM bf FULL OUTER JOIN af USING (doc_id)
          ORDER BY doc_id""",
    "q104_snapshot_merge" ->
      """WITH base AS (SELECT doc_id, text, 1 AS version, false AS deleted FROM documents),
          ch AS (SELECT doc_id, 'rev2 ' || text AS text, 2 AS version, false AS deleted
                 FROM documents WHERE doc_id % 7 = 0
                 UNION ALL
                 SELECT doc_id, text, 2, true FROM documents WHERE doc_id % 11 = 3 AND doc_id % 7 <> 0
                 UNION ALL
                 SELECT doc_id + 1000000, text, 2, false FROM documents WHERE doc_id % 19 = 5),
          u AS (SELECT * FROM base UNION ALL SELECT * FROM ch),
          r AS (SELECT doc_id, text, version, deleted,
                  row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
                FROM u)
          SELECT doc_id, CAST(version AS BIGINT) AS version,
                 CAST(len(text) AS BIGINT) AS text_len
          FROM r WHERE rn = 1 AND NOT deleted ORDER BY doc_id""",
    "q124_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest($tokSql) AS token FROM documents)
          SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY token
          HAVING count(*) * 1000 >= (SELECT count(*) FROM tk)
          ORDER BY cnt DESC, token""",
    "q126_mixture_rebalance" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          w AS (SELECT * FROM (VALUES ('en',400),('de',150),('es',150),('fr',150),('zh',150)) AS t(lang, w)),
          sz AS (SELECT MIN((COALESCE(n, 0) * 1000) // w) AS size FROM w LEFT JOIN c USING (lang)),
          q AS (SELECT lang, (size * w) // 1000 AS qn FROM w, sz),
          r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
                  ORDER BY ${phashSql("'graft-mix|' || doc_id")} % 1000000, doc_id) AS rn
                FROM documents)
          SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM r JOIN q USING (lang)
          WHERE rn <= qn ORDER BY doc_id""",
    "q102_tfidf_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
          dfq AS (SELECT term, count(*) AS dfr FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          sc AS (SELECT doc_id, term, round(tf * ln(n * 1.0 / dfr), 9) AS score
                 FROM tf JOIN dfq USING (term) CROSS JOIN n),
          rk AS (SELECT doc_id, term, score,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
                 FROM sc)
          SELECT doc_id, term, round(score, 6) AS score FROM rk WHERE rn <= 3
          ORDER BY doc_id, term""",
    // termDispersion replay: (term, source) cells, registry-sized source
    // totals, per-source |v/f − s| micro-quantized before the bounded
    // sum, one edge division.
    "q316_term_dispersion" ->
      s"""WITH tk AS (SELECT source AS src, unnest($tokSql) AS term
                FROM documents),
          tk2 AS (SELECT * FROM tk WHERE term <> ''),
          cell AS (SELECT term, src, count(*) AS v FROM tk2 GROUP BY term, src),
          st AS (SELECT src, count(*) AS stc,
                   sum(count(*)) OVER () AS tt FROM tk2 GROUP BY src),
          terms AS (SELECT term, CAST(sum(v) AS BIGINT) AS f FROM cell
                    GROUP BY term HAVING sum(v) >= 50),
          d AS (SELECT t.term, t.f,
                  CAST(round(abs(coalesce(c.v, 0) * 1.0 / t.f
                    - s.stc * 1.0 / s.tt) * 1000000, 0) AS BIGINT) AS dt
                FROM terms t CROSS JOIN st s
                LEFT JOIN cell c ON c.term = t.term AND c.src = s.src)
          SELECT term, f AS n_total,
            round(CAST(sum(dt) AS DOUBLE) / 2000000.0, 6) AS dp
          FROM d GROUP BY term, f ORDER BY term""",
    "q103_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
          t2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
          dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
          st AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
          qtf AS (SELECT doc_id, term, count(*) AS tf FROM t2
                  WHERE term IN ('join', 'hash', 'vector') GROUP BY 1, 2),
          dfq AS (SELECT term, count(*) AS dfr FROM qtf GROUP BY 1),
          idf AS (SELECT term, ln(1 + (n - dfr + 0.5) / (dfr + 0.5)) AS idf
                  FROM dfq CROSS JOIN st),
          sc AS (SELECT q.doc_id,
                   round(sum(idf * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 9) AS s
                 FROM qtf q JOIN idf USING (term) JOIN dl ON dl.doc_id = q.doc_id
                 CROSS JOIN st GROUP BY q.doc_id)
          SELECT doc_id, round(s, 6) AS score
          FROM (SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 20)
          ORDER BY doc_id""",
    "q100_weighted_sample" ->
      s"""SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
              round(pow((${phashSql("'graft-wsample|' || doc_id")} % 1000000 + 0.5) / 1000000.0,
                        1.0 / len(text)), 9) AS wk
            FROM documents ORDER BY wk DESC, doc_id LIMIT 100)
          ORDER BY doc_id""",
    "q101_weighted_stratified" ->
      s"""SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
              row_number() OVER (PARTITION BY lang ORDER BY
                round(pow((${phashSql("'graft-wsample|' || doc_id")} % 1000000 + 0.5) / 1000000.0,
                          1.0 / len(text)), 9) DESC, doc_id) AS rn
            FROM documents)
          WHERE rn <= 20 ORDER BY doc_id""",
    "q93_temperature_sample" ->
      """WITH st AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
         r AS (SELECT lang,
                 CAST(round(least(1.0,
                        0.5 * sum(n) OVER () * (sqrt(n) / sum(sqrt(n)) OVER ()) / n)
                      * 1000000, 0) AS BIGINT) AS thr
               FROM st)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE CAST('0x' || substr(md5('graft-temp|' || d.doc_id), 1, 15) AS BIGINT) % 1000000 < r.thr
         ORDER BY d.doc_id""",
    "q94_chunk_docs" ->
      """SELECT doc_id, chunk_idx, substr(text, CAST(chunk_idx * 192 + 1 AS INT), 256) AS chunk
         FROM (SELECT doc_id, text,
                 unnest(range(CAST(ceil(length(text) / 192.0) AS BIGINT))) AS chunk_idx
               FROM documents WHERE length(text) > 0)
         ORDER BY doc_id, chunk_idx""",
    "q72_corpus_filter" ->
      s"""SELECT doc_id, nt AS n_tokens, mtl AS mean_tok_len, sw AS stopword_ratio FROM (
            SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS nt,
              round(length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / len($tokSql), 6) AS mtl,
              round(len(list_filter($tokSql, t -> t IN ($stopList))) * 1.0 / len($tokSql), 6) AS sw,
              round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(text), 6) AS pr
            FROM documents)
          WHERE nt BETWEEN 20 AND 70 AND mtl BETWEEN 3.0 AND 5.0 AND pr <= 0.05 AND sw >= 0.02
          ORDER BY doc_id""",
    // Interpolated Kneser–Ney (D = 3/4): the probability of each observed
    // bigram is the exact rational ((4c−3)T + 3·n1f·cont) / (4·ctx·T) —
    // one double division + one ln on identical integers in both engines,
    // micro-nat quantization, integer per-doc weighted mean.
    "q266_kneser_ney" ->
      s"""WITH bgdoc AS (SELECT doc_id, g, count(*) AS dc
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(len($tokSql) - 1),
                           i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                       FROM documents WHERE len($tokSql) >= 2)
                 GROUP BY doc_id, g),
          bg AS (SELECT g, sum(dc) AS c FROM bgdoc GROUP BY g),
          st AS (SELECT g, c,
                   sum(c) OVER (PARTITION BY split_part(g, ' ', 1)) AS ctx,
                   count(*) OVER (PARTITION BY split_part(g, ' ', 1)) AS n1f,
                   count(*) OVER (PARTITION BY split_part(g, ' ', 2)) AS cont,
                   (SELECT count(*) FROM bg) AS t
                 FROM bg),
          lp AS (SELECT g, CAST(round(ln(
                   CAST((4*c - 3)*t + 3*n1f*cont AS DOUBLE) / (4*ctx*t)) * 1e6, 0) AS BIGINT) AS lpu
                 FROM st)
          SELECT doc_id, round(sum(dc * lpu) * 1.0 / sum(dc) / 1e6, 6) AS mean_logprob
          FROM bgdoc JOIN lp USING (g) GROUP BY doc_id ORDER BY doc_id""",
    // DSIR importance selection: add-one-smoothed unigram likelihood
    // ratio (target = lang 'en' vs the whole corpus), integer micro-nat
    // token weights, exact integer per-doc sums, doc_id tiebreak.
    "q267_dsir_select" ->
      s"""WITH tk AS (SELECT doc_id, lang = 'en' AS tgt, unnest($tokSql) AS w FROM documents),
          v AS (SELECT w, count(*) AS cr, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
                FROM tk GROUP BY w),
          tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS nv FROM v),
          wt AS (SELECT w, CAST(round((ln(CAST(ct + 1 AS DOUBLE) / (tt + nv))
                                     - ln(CAST(cr + 1 AS DOUBLE) / (tr + nv))) * 1e6, 0) AS BIGINT) AS lpu
                 FROM v CROSS JOIN tot)
          SELECT doc_id, round(sum(lpu) / 1e6, 6) AS score
          FROM tk JOIN wt USING (w) GROUP BY doc_id
          ORDER BY round(sum(lpu) / 1e6, 6) DESC, doc_id LIMIT 100""",
    // Per-source 800-token quota: portable-hash priority order, keep
    // while the INCLUSIVE running token total stays within budget.
    "q268_domain_quota" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($tokSql) AS BIGINT) AS n_tokens,
                   ${phashSql("'graft-quota|' || CAST(doc_id AS VARCHAR)")} AS hv
                   FROM documents),
          c AS (SELECT doc_id, source, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
          SELECT doc_id, source, n_tokens, cum_tokens FROM c
          WHERE cum_tokens <= 800 ORDER BY doc_id""",
    // Boilerplate line-frequency removal over the constructed 3-line docs
    // (body | per-source footer | doc-keyed unique line): lines in >= 10
    // distinct docs drop from ALL docs; survivors rejoin in order.
    "q269_boilerplate_lines" ->
      """WITH aug AS (SELECT doc_id,
                 text || chr(10) || 'footer ' || source || ' subscribe now'
                      || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) || ' unique' AS text
               FROM documents),
          l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
          ln_ AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, ls[CAST(pos AS INT) + 1] AS line
                  FROM (SELECT doc_id, ls, unnest(range(len(ls))) AS pos FROM l0)),
          dfq AS (SELECT md5(line) AS h, count(DISTINCT doc_id) AS df FROM ln_ GROUP BY 1)
          SELECT doc_id,
            coalesce(array_to_string(list(line ORDER BY pos) FILTER (WHERE df < 10), chr(10)), '') AS text_clean,
            CAST(count(*) FILTER (WHERE df >= 10) AS BIGINT) AS n_dropped
          FROM ln_ JOIN dfq ON md5(line) = h
          GROUP BY doc_id ORDER BY doc_id""",
    // Snake sharding: global 0-based rank in (tokens DESC, doc_id) order,
    // dealt boustrophedon across 8 shards.
    "q270_snake_shards" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
          r AS (SELECT doc_id, n_tokens,
                  CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS BIGINT) AS rank
                FROM t)
          SELECT doc_id, n_tokens, rank,
                 CAST(CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8 ELSE 7 - rank % 8 END AS BIGINT) AS shard
          FROM r ORDER BY doc_id""",
    // Top-20 vocabulary by (count DESC, token ASC), OOV share per doc.
    "q271_oov_rate" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokSql) AS w FROM documents),
          v AS (SELECT w, 1 AS inv FROM (
                  SELECT w, count(*) AS c FROM tk GROUP BY w
                  ORDER BY c DESC, w LIMIT 20))
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 round(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
          FROM tk LEFT JOIN v USING (w) GROUP BY doc_id ORDER BY doc_id""",
    // Mass of within-doc repeated bigrams over all bigram occurrences.
    "q272_dup_bigram_share" ->
      s"""WITH bg AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(len($tokSql) - 1),
                           i -> $tokSql[i+1] || ' ' || $tokSql[i+2])) AS g
                       FROM documents WHERE len($tokSql) >= 2)
                 GROUP BY doc_id, g)
          SELECT doc_id, round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS dup_share
          FROM bg GROUP BY doc_id ORDER BY doc_id""",
    // Integer cumulative mass in (count DESC, token ASC) order; n_types
    // = strictly-below count + 1. Coverages cast to DOUBLE (a DECIMAL
    // literal would move the p*total threshold off the engine's double).
    "q277_vocab_coverage" ->
      s"""WITH tk AS (SELECT unnest($tokSql) AS w FROM documents),
          c AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
          cum AS (SELECT w, c, sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum FROM c),
          tot AS (SELECT sum(c) AS tot FROM c)
          SELECT coverage,
                 CAST(sum(CASE WHEN cum < coverage * tot THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_types
          FROM cum CROSS JOIN tot
               CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS coverage)
          GROUP BY coverage ORDER BY coverage""",
    // Digit-run canonicalization groups the two planted "page <k>"
    // variants of every doc into one template class.
    "q273_template_dedup" ->
      """WITH aug AS (SELECT doc_id, text || ' page ' || CAST(doc_id % 7 AS VARCHAR) AS text FROM documents
                 UNION ALL
                 SELECT doc_id + 100000, text || ' page ' || CAST(doc_id % 5 + 10 AS VARCHAR) FROM documents),
          h AS (SELECT doc_id, md5(regexp_replace(text, '[0-9]+', '0', 'g')) AS hh FROM aug),
          g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hh) AS template_id,
                       count(*) OVER (PARTITION BY hh) AS n_members
                FROM h)
          SELECT doc_id, CAST(template_id AS BIGINT) AS template_id,
                 CAST(n_members AS BIGINT) AS n_members
          FROM g WHERE n_members >= 2 ORDER BY doc_id""",
    "q37_simhash" ->
      s"""WITH th AS (SELECT doc_id, ${phashSql("t")} AS h
                 FROM (SELECT doc_id, unnest($tokSql) AS t FROM documents)),
          bits AS (SELECT doc_id, k, sum(((h >> k) & 1) * 2 - 1) AS s
                   FROM th CROSS JOIN (SELECT unnest(range(32)) AS k) GROUP BY doc_id, k)
          SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id ORDER BY doc_id""",
    // q37's hash pipeline over the planted corpus, then BRUTE-FORCE
    // pairs — the oracle proves the engine's banded join lossless.
    "q187_simhash_neardup" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 200000, text || ' zzduptoken'
                 FROM documents WHERE doc_id < 20),
          th AS (SELECT doc_id, ${phashSql("t")} AS h
                 FROM (SELECT doc_id, unnest($tokSql) AS t FROM docs)),
          bits AS (SELECT doc_id, k, sum(((h >> k) & 1) * 2 - 1) AS s
                   FROM th CROSS JOIN (SELECT unnest(range(32)) AS k) GROUP BY doc_id, k),
          sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
                 FROM bits GROUP BY doc_id)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY id_a, id_b""")
}
