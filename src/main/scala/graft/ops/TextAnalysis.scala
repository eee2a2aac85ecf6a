package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting. The reference has no text surface (its
  * documents are census rows), so these extend SURVEY §7.2 step 7 over the
  * driver's `documents` table.
  *
  * Every operator is pure per-row column arithmetic (split / regexp /
  * length / md5) — no shuffle, no UDF, fully inside WholeStageCodegen —
  * so at 100 TB each executor streams its parquet splits through codegen'd
  * expressions with zero exchange. All formulas are deliberately portable
  * (same result computable in ANSI-ish SQL) so the DuckDB oracle can
  * hash-match them.
  */
object TextAnalysis {

  /** Fixed English stopword list shared with the oracle SQL. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Whitespace tokens of lower-cased trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct sorted token set — canonical vocabulary of a document. */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Whitespace token count (the fast pre-filter before real BPE). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Sliding-window character chunking — the retrieval/context-window
    * fan-out of a RAG or long-context pipeline. Chunk i of a document
    * covers characters [i·stride, i·stride + size), i ∈ [0,
    * ceil(len/stride)), so every character is covered and consecutive
    * chunks overlap by `size - stride` characters. Zero-length documents
    * produce no chunks. Output: (id, idxCol, outCol) — one row per chunk.
    *
    * Scale: pure per-row `transform` + `posexplode`, zero shuffle — each
    * executor fans its documents out to chunks locally, and downstream
    * operators see a chunk-grained table whose partitioning is inherited
    * from the scan. Deterministic and engine-portable (substring
    * arithmetic only), so an external SQL oracle replays it exactly. */
  def chunk(df: DataFrame, idCol: String, textCol: String, size: Int,
            stride: Int, idxCol: String = "chunk_idx",
            outCol: String = "chunk"): DataFrame = {
    require(size > 0, s"size $size must be positive")
    require(stride > 0 && stride <= size,
      s"stride $stride must be in [1, size=$size]")
    val t = col(textCol)
    // n >= 1 whenever len >= 1 (the filter guarantees it), so the
    // sequence below is always ascending.
    val n = ceil(length(t).cast("double") / stride).cast("int")
    df.filter(length(t) > 0)
      .select(col(idCol), posexplode(transform(sequence(lit(0), n - 1),
        i => t.substr(i * stride + 1, lit(size)))).as(Seq(idxCol, outCol)))
  }

  /** Ratio of stopword tokens to all tokens, 6dp. */
  def stopwordRatio(text: Column): Column = {
    val stops = array(Stopwords.map(lit): _*)
    round(
      size(filter(tokens(text), t => array_contains(stops, t)))
        / tokenCount(text).cast("double"), 6)
  }

  /** Ratio of non-alphanumeric, non-space characters to all characters. */
  def punctRatio(text: Column): Column =
    round((length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")))
      / length(text).cast("double"), 6)

  /** Mean token length (characters of non-space content / token count). */
  def meanTokenLength(text: Column): Column =
    round(length(regexp_replace(trim(text), "\\s+", ""))
      / tokenCount(text).cast("double"), 6)

  /** Composite quality score in [0,1]: long-enough docs with low
    * punctuation noise and a natural-language stopword share score high.
    * Weights are fixed constants shared with the oracle. */
  def qualityScore(text: Column, nChars: Column): Column = round(
    least(nChars.cast("double") / lit(500.0), lit(1.0)) * lit(0.4)
      + (lit(1.0) - least(punctRatio(text) * lit(5.0), lit(1.0))) * lit(0.3)
      + least(stopwordRatio(text) * lit(10.0), lit(1.0)) * lit(0.3), 6)

  /** Character-bigram occurrence count: how often `bg` appears in text
    * (overlapping), via the length-delta idiom so it is portable SQL.
    * Plain (non-regex) replace — literal patterns through the regex engine
    * cost ~3x in the hot path. */
  def bigramCount(text: Column, bg: String): Column =
    (length(text) - length(call_function("replace", text, lit(bg), lit(""))))
      ./(lit(bg.length))

  /** Marker character-bigrams per language for the n-gram heuristic.
    * A real language-ID model would use trained trigram profiles; the
    * operator shape (per-row argmax over n-gram profile scores) is what
    * scales — swap the profile table without touching the plan. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "ng"),
    "de" -> Seq("er", "ch", "ei"),
    "es" -> Seq("la", "os", "el"),
    "fr" -> Seq("le", "ou", "es"))

  /** Heuristic language ID: score = Σ marker-bigram occurrences per
    * language; predict the argmax, ties broken by FIRST-LISTED order in
    * [[LangMarkers]] (the oracle's CASE chain mirrors the same order),
    * docs with an all-zero profile → "und". */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, bgs) =>
      lang -> bgs.map(bigramCount(text, _)).reduce(_ + _)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === best && best > 0, lang).otherwise(els)
    }
  }

  /** Canonical document fingerprint: md5 of the sorted distinct token
    * set — robust to token order and repetition (bag-of-words identity).
    * The 60-bit numeric twin (`PortableHash.phash`) feeds dedup bucketing. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokenSet(text)))

  /** PII masking rules, applied IN ORDER (URL before EMAIL so an address
    * inside a URL masks as part of the URL; IP before PHONE so dotted
    * quads never half-match a phone rule). Patterns are deliberately in
    * the common RE2/Java subset (no lookaround) so the identical rule
    * list replays in external engines — this is the scrubbing pass a
    * training-data pipeline runs before anything else sees the text.
    * Conservative recall (plain international/US-ish phones, dotted-quad
    * IPs): extend the list per corpus; the operator shape — a folded
    * chain of codegen'd regexp_replace, zero shuffle — is what scales. */
  val PiiRules: Seq[(String, String)] = Seq(
    "https?://[^ ]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\+\\d{1,2}[ -]\\d{3}[ -]\\d{4}" -> "<PHONE>")

  /** Mask emails / URLs / IPv4s / phone-shaped numbers with typed tags. */
  def maskPii(text: Column): Column =
    PiiRules.foldLeft(text) { case (c, (re, tag)) => regexp_replace(c, re, tag) }

  /** Unicode canonicalization (the first pass of every text pipeline):
    * NFC-normalize (composed accents — "Cafe"+U+0301 and "Café" become
    * one byte sequence, so dedup/fingerprinting see one document),
    * control chars → space, whitespace collapsed, trimmed, lowercased.
    * Native compiled kernel (Spark has no built-in NFC); requires
    * GraftFunctions.ensureRegistered. */
  def normalizeText(text: Column): Column =
    graft.functions.GraftFunctions.normalizeTextNative(text)

  /** C4/Gopher-style corpus quality filter: keep documents inside the
    * token-count band, the mean-token-length band, under the punctuation
    * ceiling, and over the stopword floor (the classic "is this natural
    * language" rules). Pure per-row predicates — the filter pushes into
    * the scan side of whatever pipeline follows, zero shuffle. Returns
    * the surviving rows unchanged.
    */
  def corpusFilter(docs: DataFrame, textCol: String = "text",
                   minTokens: Int = 20, maxTokens: Int = 10000,
                   minMeanTokLen: Double = 3.0, maxMeanTokLen: Double = 10.0,
                   maxPunctRatio: Double = 0.2,
                   minStopwordRatio: Double = 0.01): DataFrame = {
    val t = col(textCol)
    docs
      .filter(tokenCount(t).between(minTokens, maxTokens))
      .filter(meanTokenLength(t).between(minMeanTokLen, maxMeanTokLen))
      .filter(punctRatio(t) <= maxPunctRatio)
      .filter(stopwordRatio(t) >= minStopwordRatio)
  }

  /** Intra-document repetition stats (the Gopher repetition rules): the
    * share of tokens covered by the single most-frequent token, and the
    * share of bigram occurrences covered by the most-frequent bigram
    * (null when a doc has < 2 tokens). High values mark boilerplate/spam
    * (nav bars, keyword stuffing).
    *
    * Shape: explode → two-level groupBy with map-side partial counts —
    * NOT a nested higher-order filter-per-distinct-token lambda, which
    * would be interpreted AND quadratic per document. The (doc, token)
    * partial aggregation keeps the shuffle at distinct-pairs volume. */
  def repetitionStats(docs: DataFrame, idCol: String,
                      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(round(max("__c") / sum("__c").cast("double"), 6).as("top_token_share"))
    val tkArr = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
    val big = tkArr.select(col(idCol), explode(
        transform(sequence(lit(1), size(col("__tk")) - 1),
          i => concat_ws(" ", element_at(col("__tk"), i),
            element_at(col("__tk"), i + 1)))).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(round(max("__c") / sum("__c").cast("double"), 6).as("top_bigram_share"))
    tok.join(big, Seq(idCol), "left")
  }

  /** Data-driven quality score: mean log-probability of a document's
    * tokens under the corpus' own unigram distribution — the cheap
    * stand-in for LM-perplexity filtering (gibberish and off-vocabulary
    * noise score low; every token is in-vocab by construction, so no
    * smoothing term). Two shuffles: the corpus vocabulary (map-side
    * partial counts; broadcast back), then the per-doc mean. Per-token
    * log-probs quantize to INTEGER MICRO-NATS before the mean, so the
    * per-doc aggregation is an exact integer sum — fully ORDER-
    * INDEPENDENT, where averaging rounded doubles still let a partial-
    * agg ordering difference flip the 6th decimal on boundary documents
    * (observed on 8 of 5000 docs at sf0.1). */
  def unigramLogProb(docs: DataFrame, idCol: String,
                     textCol: String = "text"): DataFrame = {
    val tk = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val vocab = tk.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val withTotal = vocab.crossJoin(broadcast(vocab.agg(sum("__c").as("__tot"))))
      .select(col("__t"),
        round(log(col("__c") / col("__tot").cast("double")) * 1e6, 0)
          .cast("long").as("__lpu"))
    tk.join(broadcast(withTotal), Seq("__t"))
      .groupBy(col(idCol))
      .agg(round(sum("__lpu") / count(lit(1)) / 1e6, 6).as("mean_logprob"))
  }

  /** Bigram conditional mean log-prob per document — the next LM-quality
    * rung above [[unigramLogProb]]: each adjacent token pair (w1, w2)
    * scores ln(c(w1 w2) / c(w1 ·)) under the corpus' own bigram counts,
    * where c(w1 ·) is the count of bigrams STARTING with w1 (so the
    * conditional normalizes exactly; every observed bigram is in-model by
    * construction, no smoothing term). Repetitive or formulaic text
    * scores near 0; unusual transitions score deeply negative.
    *
    * Scale: per-doc bigrams reduce to one (doc, bigram, count) row on the
    * first exchange (map-side combine), corpus counts reduce that table
    * again on the bigram key, and the context total is a WINDOW sum over
    * the first token on the already-reduced count table — not a join
    * against a vocabulary aggregate (the q102 df pattern; a web-scale
    * bigram table does not broadcast, so scoring is a plain shuffle join
    * on the bigram key). Like q80, per-bigram log-probs quantize to
    * integer micro-nats before the weighted mean, so the per-doc sum is
    * exact integer arithmetic — fully order-independent. */
  def bigramLogProb(docs: DataFrame, idCol: String,
                    textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("__g"), " ", 1))
    val docBg = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), explode(
          transform(sequence(lit(1), size(col("__tk")) - 1),
            i => concat_ws(" ", element_at(col("__tk"), i),
              element_at(col("__tk"), i + 1)))).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__dc"))
    val stats = docBg.groupBy(col("__g")).agg(sum("__dc").as("__c"))
      .withColumn("__ctx", sum("__c").over(w))
      .select(col("__g"),
        round(log(col("__c") / col("__ctx").cast("double")) * 1e6, 0)
          .cast("long").as("__lpu"))
    docBg.join(stats, Seq("__g"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__dc") * col("__lpu")) / sum("__dc") / 1e6, 6)
        .as("mean_logprob"))
  }

  /** Perplexity filtering (the CCNet recipe, Wenzek et al. 2020): keep,
    * per stratum, the documents at or above the stratum's MEDIAN mean
    * bigram log-prob — "drop the least language-model-like half of each
    * source". Per-stratum (not global) thresholds are the load-bearing
    * detail: a global cut would empty the sources whose register the LM
    * saw least. The score is [[bigramLogProb]] (docs with < 2 tokens
    * carry no score and are dropped — they fail any LM filter
    * definitionally); the median is the EXACT lower order statistic
    * k = ⌈n/2⌉, no interpolation, so the kept set replays bit-for-bit.
    *
    * Scale: scoring is q135's vocabulary-scaled pipeline; the median
    * comes from the (stratum, score) distinct-count table through the
    * 1024-bucket prefix scheme ([[Ranking.valueCountsBeforeByTag]] — no
    * data-sized sort window), and the per-stratum cut row broadcasts.
    * One extra exchange over the score table, total. */
  def perplexityFilter(docs: DataFrame, idCol: String, stratumCol: String,
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = bigramLogProb(docs, idCol, textCol)
    // NOTE (r16, measured): do NOT persist this two-consumer table —
    // exchange reuse already dedupes the two identical subtrees, and a
    // staging persist measured q292 2.85 -> 3.80 s at sf0.1 (pure cache
    // write/read overhead on top of the same single computation).
    val sc = scores.join(docs.select(col(idCol), col(stratumCol)), Seq(idCol))
    val counts = sc.groupBy(col(stratumCol), col("mean_logprob"))
      .agg(count(lit(1)).as("__cnt"))
    val med = Ranking.valueCountsBeforeByTag(counts, stratumCol,
        "mean_logprob", "__cnt")
      .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(col(stratumCol))))
      .withColumn("__k", expr("(__n + 1) div 2"))
      .filter(col("__before") < col("__k")
        && col("__before") + col("__cnt") >= col("__k"))
      .select(col(stratumCol), col("mean_logprob").as("__med"))
    sc.join(broadcast(med), Seq(stratumCol))
      .filter(col("mean_logprob") >= col("__med"))
      .select(col(idCol), col(stratumCol), col("mean_logprob"))
  }

  /** Interpolated Kneser–Ney bigram mean log-prob per document (Kneser &
    * Ney 1995; the Chen & Goodman 1999 formulation) with the standard
    * fixed discount D = 0.75 — the smoothing rung above the unsmoothed
    * conditional of [[bigramLogProb]], and the model class real LM-quality
    * filters (CCNet's KenLM stage) score with:
    *
    *   P(w2|w1) = (c(w1 w2) − D)/c(w1 ·)
    *            + D · N1+(w1 ·)/c(w1 ·) · N1+(· w2)/N1+(· ·)
    *
    * where c(w1 ·) is the context total, N1+(w1 ·) the distinct
    * continuations of w1, N1+(· w2) the distinct left-contexts of w2 (the
    * continuation count that makes KN KN), and N1+(· ·) = T the distinct
    * bigram types. Only OBSERVED bigrams are scored (c >= 1, so the
    * discounted term is positive and the max(·,0) clamp is vacuous).
    *
    * Determinism: every factor is an integer count and D = 3/4, so P is
    * the exact rational ((4c−3)·T + 3·n1f·cont) / (4·ctx·T). Both engines
    * evaluate ONE double division and one ln() on identical integers,
    * quantize to micro-nats, and the per-doc weighted mean is exact
    * integer arithmetic — order-independent (the [[unigramLogProb]]
    * protocol). The integer products stay below 2^63 while c·T < 2^61;
    * web-scale corpora switch the two products to double (the operands
    * are exactly-representable integers, so both engines still agree).
    *
    * Scale: per-doc bigrams reduce to (doc, bigram, count) on the first
    * exchange (map-side combine); the three context statistics are
    * windows over the REDUCED distinct-bigram table (one w1-partition
    * exchange serving sum+count, one w2-partition exchange) — vocabulary-
    * scaled, never corpus-scaled; T broadcasts as one row; scoring joins
    * back on the bigram key (no vocabulary broadcast). */
  def kneserNeyLogProb(docs: DataFrame, idCol: String,
                       textCol: String = "text"): DataFrame = {
    val wCtx = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("__g"), " ", 1))
    val wCont = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("__g"), " ", -1))
    val docBg = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), explode(
          transform(sequence(lit(1), size(col("__tk")) - 1),
            i => concat_ws(" ", element_at(col("__tk"), i),
              element_at(col("__tk"), i + 1)))).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__dc"))
    val bg = docBg.groupBy(col("__g")).agg(sum("__dc").as("__c"))
    val types = bg.agg(count(lit(1)).as("__t"))
    val stats = bg
      .withColumn("__ctx", sum("__c").over(wCtx))
      .withColumn("__n1f", count(lit(1)).over(wCtx))
      .withColumn("__cont", count(lit(1)).over(wCont))
      .crossJoin(broadcast(types))
      .select(col("__g"),
        round(log(
          ((lit(4L) * col("__c") - lit(3L)) * col("__t")
            + lit(3L) * col("__n1f") * col("__cont")).cast("double")
          / (lit(4L) * col("__ctx") * col("__t"))) * 1e6, 0)
          .cast("long").as("__lpu"))
    docBg.join(stats, Seq("__g"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__dc") * col("__lpu")) / sum("__dc") / 1e6, 6)
        .as("mean_logprob"))
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each document scores
    * sum over its token occurrences of ln(P_target(t) / P_raw(t)) under
    * add-one-smoothed unigram models, where the target model trains on
    * the rows satisfying `targetPred` (the domain you want more of) and
    * the raw model on the whole corpus. Ranking raw documents by this
    * score and keeping the top slice is the deterministic (greedy) form
    * of DSIR's Gumbel-top-k resampling — the standard cheap recipe for
    * steering a 100 TB crawl toward a high-quality seed domain.
    *
    * Determinism: per-token weights quantize to integer micro-nats
    * (round((ln((ct+1)/(Tt+V)) − ln((cr+1)/(Tr+V)))·1e6)) so per-doc
    * sums are exact integers; ties in the downstream top-k break on the
    * document key.
    *
    * Scale: one exchange reduces tokens to the (token, raw count, target
    * count) vocabulary table (map-side combine; the target count rides
    * the same aggregate as a conditional sum — not a second pass); the
    * three totals broadcast as one row; scoring joins tokens back on the
    * token key — a plain shuffle join, because a web-scale vocabulary
    * does not broadcast. Returns (idCol, score). */
  def importanceScores(docs: DataFrame, idCol: String, targetPred: Column,
                       textCol: String = "text"): DataFrame = {
    val tk = docs.select(col(idCol), targetPred.as("__tgt"),
        explode(tokens(col(textCol))).as("__w"))
    val vocab = tk.groupBy(col("__w"))
      .agg(count(lit(1)).as("__cr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
    val totals = vocab.agg(sum("__cr").as("__tr"), sum("__ct").as("__tt"),
      count(lit(1)).as("__nv"))
    val weights = vocab.crossJoin(broadcast(totals))
      .select(col("__w"),
        round((log((col("__ct") + lit(1L)).cast("double")
            / (col("__tt") + col("__nv")))
          - log((col("__cr") + lit(1L)).cast("double")
            / (col("__tr") + col("__nv")))) * 1e6, 0)
          .cast("long").as("__lpu"))
    tk.join(weights, Seq("__w"))
      .groupBy(col(idCol))
      .agg(round(sum("__lpu") / 1e6, 6).as("score"))
  }

  /** Boilerplate-line removal (the CCNet / Gopher line-frequency rule):
    * drop every line that occurs in at least `minDocFreq` DISTINCT
    * documents (nav bars, cookie banners, "subscribe" footers — content
    * that repeats across a site survives exact and near dedup because
    * each PAGE is unique, yet poisons an LM with memorized templates).
    * Unlike [[Dedup.paragraphDedup]] (which keeps the FIRST copy of a
    * duplicated paragraph), the frequency rule removes ALL copies once a
    * line crosses the threshold. Returns (idCol, text_clean = surviving
    * lines rejoined in original order, n_dropped).
    *
    * Scale: lines reduce to (line-hash, doc) DISTINCT pairs then to a
    * (line-hash, df) table on one exchange chain (map-side partial
    * distinct); the document-frequency join is on the line hash (8-byte
    * md5 prefix key, no text payload); reassembly is one doc-keyed
    * aggregation sorting each doc's surviving (pos, line) structs —
    * per-doc state only, never a global sort. collect_list drops the
    * nulls `when` produces for boilerplate lines, so kept-vs-dropped is
    * decided inside the single aggregate (no second pass). */
  def stripBoilerplate(docs: DataFrame, idCol: String, minDocFreq: Int,
                       textCol: String = "text"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq $minDocFreq must be >= 2")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__h", md5(col("__line")))
    val df = lines.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    lines.join(df, Seq("__h"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__df") < minDocFreq,
            struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), "\n").as("text_clean"),
        sum(when(col("__df") >= minDocFreq, 1L).otherwise(0L))
          .as("n_dropped"))
  }

  /** Out-of-vocabulary rate per document against the corpus' own top-k
    * vocabulary (count-desc, token-asc ties — the deterministic cut a
    * tokenizer-training pipeline uses before committing a vocab): the
    * share of token OCCURRENCES outside the top `vocabSize` types. High
    * OOV marks gibberish, code, or off-distribution text that a fixed
    * vocabulary will shred into bytes.
    *
    * Scale: tokens reduce to the (token, count) vocabulary on one
    * exchange; the top-k cut is TakeOrderedAndProject (per-partition
    * k-heaps, k rows to the driver merge — no global sort) and the
    * resulting vocab is k rows, broadcast back by CONTRACT (vocabSize is
    * caller-bounded, e.g. 32k–256k — always broadcastable). Scoring is
    * a broadcast left join + one per-doc aggregate. */
  def oovRate(docs: DataFrame, idCol: String, vocabSize: Int,
              textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize $vocabSize must be positive")
    val tk = docs.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
    val vocab = tk.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(vocabSize)
      .select(col("__w"), lit(1).as("__in"))
    tk.join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(when(col("__in").isNull, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("oov_rate"))
  }

  /** Vocabulary coverage curve: for each target coverage p, the number
    * of token TYPES (taken most-frequent-first, token-asc ties) needed
    * to cover >= p of all token OCCURRENCES — the curve a tokenizer
    * budget is read off of ("32k types cover 99.2%"), and the
    * complement of [[oovRate]] (which fixes the vocab and reports the
    * uncovered mass). One row per requested coverage.
    *
    * Exactness: cumulative mass is an integer running sum in frequency
    * order, so n_types = |{types with cum < p·total}| + 1 — one
    * conditional aggregate, no rank column. The prefix sum is the
    * rank-offset scheme ([[graft.ops.Ranking.globalPrefixSum]] over the
    * negated count with a coarse monotone bucket) — no single-partition
    * sort over the vocabulary. */
  def vocabCoverage(docs: DataFrame, coverages: Seq[Double],
                    textCol: String = "text"): DataFrame = {
    require(coverages.nonEmpty, "vocabCoverage: coverages empty")
    require(coverages.forall(p => p > 0 && p <= 1),
      s"vocabCoverage: coverages $coverages outside (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .withColumn("__negc", -col("__c"))
    val cum = graft.ops.Ranking.globalPrefixSum(counts,
      Seq("__negc", "__w"), floor(col("__negc") / lit(16L)), "__c", "__cum")
    val total = counts.agg(sum("__c").as("__tot"))
    val cov = coverages.toDF("coverage")
    cum.crossJoin(broadcast(total)).crossJoin(broadcast(cov))
      .groupBy(col("coverage"))
      .agg((sum(when(col("__cum") < col("coverage") * col("__tot"), 1L)
        .otherwise(0L)) + 1L).as("n_types"))
  }

  /** Share of n-gram OCCURRENCES belonging to n-grams repeated within
    * the same document (the Gopher "duplicate n-gram fraction" family,
    * Rae et al. 2021 Table A1): where [[repetitionStats]] reports the
    * single hottest n-gram's share, this reports the TOTAL mass of all
    * within-doc repeats — the signal that catches diffuse templating
    * (every paragraph lightly recycled) rather than one hot header.
    * Docs with fewer than n tokens have no n-grams and are not scored.
    *
    * Scale: one exchange reduces to (doc, gram, count) with map-side
    * combine; the share is a per-doc conditional aggregate over that
    * reduced table. */
  def dupNgramShare(docs: DataFrame, idCol: String, n: Int,
                    textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n $n must be >= 2")
    val grams = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= n)
      .select(col(idCol), explode(
          transform(sequence(lit(1), size(col("__tk")) - (n - 1)),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(col("__tk"), i + j)): _*)))
        .as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
    grams.groupBy(col(idCol))
      .agg(round(sum(when(col("__c") >= 2, col("__c")).otherwise(0L))
        / sum("__c").cast("double"), 6).as("dup_share"))
  }

  /** Corpus-linguistic term dispersion DP ("deviation of proportions",
    * Gries 2008): for each term, 0.5·Σ_sources |v_i/f − s_i|, where v_i
    * is the term's count in source i, f its corpus count, and s_i the
    * source's share of all tokens. DP ≈ 0 means the term is spread
    * across sources exactly like the corpus itself; DP → 1 means it
    * lives in one source — the signal that separates genuine vocabulary
    * from source-local artifacts (boilerplate, site chrome, code) when
    * curating a training corpus, which raw frequency alone cannot see.
    * Sources a term never touches contribute |0 − s_i| — absence IS
    * dispersion evidence, so the grid is completed, not inner-joined.
    *
    * Determinism: v, f, source totals are exact longs; each per-source
    * term quantizes |v/f − s| to integer micro-units before the
    * source-count-bounded sum; one edge division rounds to 6 dp.
    *
    * Scale: tokens reduce to (term, source) cells on the first exchange
    * (map-side combined). The source-total table is registry-sized (a
    * corpus has bounded ingestion sources — this is NOT the vocabulary),
    * so completing the grid is a broadcast cross of the REDUCED term
    * table with a few rows; everything after is term-keyed. */
  def termDispersion(docs: DataFrame, sourceCol: String,
                     textCol: String = "text",
                     minCount: Long = 50): DataFrame = {
    val tk = docs
      .select(col(sourceCol).as("__src"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val cell = tk.groupBy(col("term"), col("__src")).agg(count(lit(1)).as("__v"))
    val srcTot = tk.groupBy(col("__src")).agg(count(lit(1)).as("__st"))
      .withColumn("__T", sum(col("__st"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val terms = cell.groupBy(col("term")).agg(sum(col("__v")).as("__f"))
      .filter(col("__f") >= minCount)
    terms.crossJoin(broadcast(srcTot))
      .join(cell, Seq("term", "__src"), "left")
      .select(col("term"), col("__f"),
        round(abs(coalesce(col("__v"), lit(0L)).cast("double") / col("__f")
            - col("__st").cast("double") / col("__T")) * 1e6, 0)
          .cast("long").as("__dt"))
      .groupBy(col("term"), col("__f"))
      .agg(sum(col("__dt")).as("__s"))
      .select(col("term"), col("__f").as("n_total"),
        round(col("__s").cast("double") / 2000000.0, 6).as("dp"))
  }

  /** Top-k TF-IDF terms per document — the classic salience ranking
    * (tf · ln(N/df), raw counts, no smoothing: every term scored has
    * df >= 1 by construction). The workhorse behind keyword extraction
    * and cheap topic tagging over a web-scale corpus.
    *
    * Scale: tokens reduce to one row per (doc, term) on the first
    * exchange (map-side partial counts). Document frequency is a
    * windowed count over the term key on that REDUCED table — not a join
    * against a vocabulary-sized aggregate, which would either assume the
    * vocabulary broadcasts (it does not at web scale) or re-exchange
    * both join sides. N arrives as a broadcast 1-row crossjoin, and the
    * per-doc top-k is one windowed row_number. Three exchanges of the
    * reduced table total — (doc, term), term, doc — and nothing larger
    * than a row ever broadcasts. Ranking uses the score rounded to 1e-9
    * with a term tiebreak, so a last-ulp ln() difference between engines
    * cannot reorder the cut.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String = "text",
                    topK: Int = 3): DataFrame = {
    val tk = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = tk.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.withColumn("__df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("__n").cast("double") / col("__df")), 9))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col(idCol), col("term"), col("score"))
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson & Zaragoza 2009, the Okapi formulation): per query term,
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturates via
    * tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)). Returns the topK docs.
    *
    * Scale: the token stream filters to the QUERY terms before any
    * aggregation — the tf table holds at most |query| rows per doc, and
    * the idf table (|query| rows) broadcasts. Document length is its own
    * doc-keyed aggregation, co-partitioned with the per-doc score sum.
    * The final top-k compiles to TakeOrderedAndProject (per-partition
    * heaps), not a global sort.
    */
  def bm25(docs: DataFrame, idCol: String, queryTerms: Seq[String],
           textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 20): DataFrame = {
    val tk = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val dlen = tk.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val qtf = tk.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))
    val stats = dlen.agg(avg("__dl").as("__avgdl"), count(lit(1)).as("__n"))
    val idf = qtf.groupBy("term").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))).as("__idf"),
        col("__avgdl"))
    val scored = qtf.join(broadcast(idf), Seq("term"))
      .join(dlen, Seq(idCol))
      .withColumn("__s", col("__idf") * col("__tf") * (k1 + 1) /
        (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol)).agg(round(sum("__s"), 9).as("score"))
    scored.orderBy(col("score").desc, col(idCol)).limit(topK)
  }

  /** Deflate compressibility: compressed/raw UTF-8 byte ratio at zlib
    * level 6, rounded to 1e-6. Templated boilerplate and repeated spam
    * compress far below natural prose, making the ratio a cheap
    * corpus-quality signal alongside [[qualityScore]] (low ratio =
    * repetitive; near/above 1 = high-entropy noise). A Scala UDF — zlib
    * is not expressible in Catalyst — so the column breaks
    * WholeStageCodegen; acceptable for a per-row CPU kernel with no
    * shuffle. Deterministic for a fixed zlib, but NOT replayable in an
    * external SQL engine → rows-only correctness, spec-pinned bounds.
    */
  def compressionRatio(text: Column): Column = compressionRatioUdf(text)

  private lazy val compressionRatioUdf =
    udf { (s: String) =>
      if (s == null || s.isEmpty) 1.0
      else {
        val raw = s.getBytes("UTF-8")
        val d = new java.util.zip.Deflater(6)
        try {
          val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
          val dos = new java.util.zip.DeflaterOutputStream(bos, d)
          dos.write(raw); dos.close()
          math.round(bos.size.toDouble / raw.length * 1e6) / 1e6
        } finally d.end() // free the native zlib buffer deterministically
      }
    }

  /** Corpus collocations: adjacent token pairs ranked by pointwise
    * mutual information (Church & Hanks 1990). The primary rank key is
    * an INTEGER association score — lift_ppb = c_xy·1e9 div (c_x·c_y),
    * a monotone transform of PMI for fixed corpus totals — so the
    * ordering and the top-k cut are exact integer arithmetic an external
    * SQL engine replays bit-for-bit; the familiar log-scale PMI rides
    * along in micro-nats (the q80 integer-ln pattern). `minCount` prunes
    * the bigram tail BEFORE the unigram joins, which is also what keeps
    * PMI's low-count bias out of the ranking.
    *
    * Scale: one (x, y) bigram agg and one unigram agg, both map-side
    * combined; the pruned bigram table (≥minCount survivors only) joins
    * the unigram counts on each side, and the two corpus totals arrive
    * as broadcast 1-row crossjoins. The unpruned bigram vocabulary never
    * joins anything, and the final top-k is TakeOrderedAndProject, not a
    * global sort.
    */
  def collocations(docs: DataFrame, textCol: String = "text",
                   minCount: Long = 3, topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount=$minCount must be >= 1")
    require(topK >= 1, s"topK=$topK must be >= 1")
    val toks = docs.select(tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
    val bg = toks.select(explode(expr(
        "transform(sequence(0, size(__t) - 2), " +
          "i -> struct(element_at(__t, i + 1) AS x, element_at(__t, i + 2) AS y))"))
        .as("__bg"))
      .select(col("__bg.x").as("x"), col("__bg.y").as("y"))
    // Unigram counts are read three times (total + two join sides) —
    // cached; the bigram-instance total comes from the token-length scan
    // (Σ len−1), NOT from re-running the bigram aggregation.
    val uni = docs.select(explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bgCounts = bg.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    val nb = toks.agg(sum(size(col("__t")) - 1).as("__nb"))
    val nu = uni.agg(sum(col("c")).as("__nu"))
    graft.QueryCleanup.register(() => uni.unpersist())
    bgCounts.filter(col("c_xy") >= minCount)
      .join(uni.withColumnsRenamed(Map("t" -> "x", "c" -> "c_x")), "x")
      .join(uni.withColumnsRenamed(Map("t" -> "y", "c" -> "c_y")), "y")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        expr("c_xy * 1000000000L div (c_x * c_y)").as("lift_ppb"),
        // CAST to DOUBLE explicitly: a `* 1.0` literal would pull the
        // whole ratio into DECIMAL arithmetic (scale 6), truncating the
        // ln argument differently per engine.
        expr("CAST(round(ln((CAST(c_xy AS DOUBLE) * __nu * __nu) / " +
          "(CAST(__nb AS DOUBLE) * c_x * c_y)) * 1e6, 0) AS BIGINT)").as("pmi_micro"))
      .orderBy(col("lift_ppb").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** Dictionary phrase matching: which documents contain which of a
    * fixed set of exact token phrases (banned-phrase filters, quote
    * detection, benchmark-prompt lookups). A phrase of n tokens is
    * present iff it appears in the document's word n-gram shingle set
    * ([[graft.ops.Dedup.shingles]]), so matching is one broadcast hash
    * join per distinct phrase LENGTH — the per-length driver loop is
    * over a handful of lengths, never over phrases.
    *
    * Scale: the phrase table broadcasts (a dictionary is KBs); the
    * per-doc shingle explode is row-local; nothing vocabulary-sized
    * shuffles — the join output (phrase, id) is match-sized and the
    * final distinct is over it alone. Same topology as q77's
    * decontamination, generalized to labeled multi-phrase output.
    */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrases: Seq[String]): DataFrame = {
    // split("") yields Array("") — drop empty TOKENS before judging the
    // phrase non-empty, or a blank phrase sneaks through as [""]
    val norm = phrases.map(_.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "phraseMatch needs at least one non-empty phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus pass for ALL phrase lengths (r16, guide §2.4 "do fewer
    // passes"): an n-token shingle has exactly n−1 spaces, so it can
    // only equal an n-token phrase — the per-length shingle arrays can
    // be concatenated and joined against the WHOLE phrase dictionary in
    // a single broadcast hash join with identical match semantics to
    // the old per-length scan+union (previously: one full tokenize +
    // explode pass per distinct length). Tokens stage as an attribute
    // (`__tk`) so the lambda-bearing shingle transforms don't re-split
    // the text per length (the minhashFromHashes lesson).
    val lens = norm.map(_.length).distinct.sorted
    val ptab = broadcast(norm.map(_.mkString(" ")).toDF("phrase"))
    val grams = lens.map(n => Dedup.shinglesOfTokens(col("__tk"), n))
      .reduce(concat(_, _))
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(grams).as("__g"))
      .join(ptab, col("__g") === col("phrase"))
      .select(col("phrase"), col(idCol))
      .distinct()
  }

  /** All per-document text features in one pass. */
  def features(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("n_uniq_tokens", size(tokenSet(t)).cast("long"))
      .withColumn("mean_tok_len", meanTokenLength(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Token-distribution drift between two corpus snapshots: Jensen-
    * Shannon divergence of the unigram distributions plus the top-K
    * drivers — [[DataQuality.psiDrift]]'s text sibling (PSI bins a
    * numeric column; this compares the vocabulary itself, the signal
    * that catches a crawl whose topic mix shifted).
    *
    * JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2, bounded by ln 2;
    * a token absent from one side contributes a finite term (its mass
    * ln 2-weighted) — no smoothing needed, which is why JSD and not KL.
    * With integer counts, p/m = 2·cA·nB / (cA·nB + cB·nA) and
    * symmetrically for q/m, so every logarithm runs over an INTEGER and
    * quantizes to micro-nats (the q137 idiom); per-token terms round to
    * micro-units before the order-free integer total.
    *
    * Output: the `topK` tokens by drift contribution (ties broken by
    * token) with their counts and term, plus `jsd_micro` — the total
    * over the WHOLE vocabulary — repeated on each row.
    *
    * Scale: one token explode per side into a map-side-combined count,
    * one full-outer join on the token key, per-token codegen'd terms,
    * and 1-row totals broadcast back (never a vocabulary-sized window);
    * the top-K is a TakeOrderedAndProject (per-partition heaps). */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String = "text",
                 topK: Int = 20): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(out))
    val joined = counts(a, "count_a")
      .join(counts(b, "count_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("count_a"), lit(0L)).as("count_a"),
        coalesce(col("count_b"), lit(0L)).as("count_b"))
    val totals = joined.agg(sum(col("count_a")).as("__na"),
      sum(col("count_b")).as("__nb"))
    def mn(c: Column): Column = round(log(c.cast("double")) * lit(1e6), 0).cast("long")
    val withTotals = joined.crossJoin(broadcast(totals))
    // count · total products widen to decimal(38) BEFORE multiplying: at
    // corpus scale __nb is ~1e12+, so any token with count_a > ~1e6
    // would silently wrap a 64-bit product (non-ANSI) and feed a
    // negative into ln — decimal matches the oracle's HUGEINT.
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    val cross = wide(col("count_a")) * col("__nb") + wide(col("count_b")) * col("__na")
    val termP = when(col("count_a") > 0,
      (col("count_a").cast("double") / col("__na"))
        * (mn(wide(col("count_a")) * col("__nb") * 2) - mn(cross)).cast("double"))
      .otherwise(lit(0.0))
    val termQ = when(col("count_b") > 0,
      (col("count_b").cast("double") / col("__nb"))
        * (mn(wide(col("count_b")) * col("__na") * 2) - mn(cross)).cast("double"))
      .otherwise(lit(0.0))
    val terms = withTotals
      .withColumn("term_micro", round((termP + termQ) / 2, 0).cast("long"))
    val jsd = terms.agg(sum(col("term_micro")).as("jsd_micro"))
    terms.select("token", "count_a", "count_b", "term_micro")
      .orderBy(col("term_micro").desc, col("token"))
      .limit(topK)
      .crossJoin(broadcast(jsd))
  }

  /** Encoding-health audit per group: counts of control characters
    * (C0 minus tab/newline/CR), U+FFFD replacement characters (the
    * smoking gun of a bad decode), and NBSP — reported as exact counts
    * and parts-per-million of character mass. A crawl source whose
    * repl_ppm jumps was re-encoded somewhere upstream; [[corpusFilter]]
    * drops bad DOCUMENTS, this fingers the bad SOURCE.
    *
    * Pure per-row regexp counting (codegen) + one map-side-combining
    * aggregation; the character-class regexes are portable (DuckDB RE2
    * and Java regex agree on explicit code-point classes). ppm = one
    * integer-ratio double per group, rounded 2 dp. */
  def encodingAudit(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column =
      when(t.isNull, 0L)
        .otherwise(size(regexp_extract_all(t, lit(pattern), lit(0))).cast("long"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val agg = docs
      .withColumn("__nc", coalesce(length(t).cast("long"), lit(0L)))
      .withColumn("__ctl", cnt("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"))
      .withColumn("__rep", cnt("\\x{fffd}"))
      .withColumn("__nbsp", cnt("\\x{00a0}"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nc")).as("n_chars"),
        sum(col("__ctl")).as("n_ctrl"),
        sum(col("__rep")).as("n_replacement"),
        sum(col("__nbsp")).as("n_nbsp"),
        sum(when(col("__ctl") + col("__rep") > 0, 1L).otherwise(0L))
          .as("n_bad_docs"))
    def ppm(c: String): Column =
      when(col("n_chars") > 0,
        round((dec(col(c)) * 1000000).cast("double")
          / col("n_chars").cast("double"), 2))
    agg.select(col(groupCol), col("n_docs"), col("n_chars"),
      col("n_ctrl"), col("n_replacement"), col("n_nbsp"), col("n_bad_docs"),
      ppm("n_ctrl").as("ctrl_ppm"), ppm("n_replacement").as("repl_ppm"))
  }

  /** Corpus saturation audit via Good-Turing / Chao1: from the token
    * count-of-counts, the unseen probability mass P(next token is
    * novel) ≈ f₁/N (Good 1953) and the Chao1 richness floor
    * V + f₁²/(2f₂) (Chao 1984) — "is more crawling still buying new
    * vocabulary, and how much is left?" The scaling-decision number
    * [[zipfSlope]]'s shape statistic doesn't give.
    *
    * Everything is exact integer arithmetic over the count-of-counts
    * table (two map-side-combining aggregations: token counts, then
    * counts-of-counts — the second input is vocabulary-sized, its
    * output a handful of rows); the two ratios are fixed-shape double
    * divisions rounded 6 dp. f₂ = 0 ⇒ Chao1 null (standard: the
    * estimator needs doubletons). Output: one row
    * (n_tokens, vocab, f1, f2, unseen_mass, chao1). */
  def goodTuring(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val agg = counts.agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("__c") === 2, 1L).otherwise(0L)).as("f2"))
    agg.select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
      when(col("n_tokens") > 0,
        round(col("f1").cast("double") / col("n_tokens").cast("double"), 6))
        .as("unseen_mass"),
      when(col("f2") > 0,
        round(col("vocab").cast("double")
          + (dec(col("f1")) * col("f1")).cast("double")
            / (lit(2.0) * col("f2").cast("double")), 6)).as("chao1"))
  }

  /** Flesch reading ease per document from portable counting
    * heuristics: sentences = non-empty [.!?]-separated spans, words =
    * whitespace tokens, syllables = vowel-group count floored at the
    * word count (every word carries ≥ 1 syllable — "rhythm" has no
    * vowel letter but still one group of breath). The classic
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), the
    * quality-score sibling of [[corpusFilter]] that grades READING
    * LEVEL rather than spam-likelihood (90+ ≈ grade school, < 30 ≈
    * academic; machine-generated keyword stuffing scores absurdly at
    * either end).
    *
    * Pure per-row regexp/array arithmetic — no shuffle, fully inside
    * WholeStageCodegen, and every count is an exact integer so the one
    * fixed-shape double expression replays in any engine. Documents
    * with no words yield null (not a division error — ANSI). */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lower = org.apache.spark.sql.functions.lower(trim(col(textCol)))
    val nWords = size(filter(split(lower, "\\s+"), t => t =!= ""))
    val nSents = size(filter(split(lower, "[.!?]+"), s => trim(s) =!= ""))
    val vowelGroups = size(regexp_extract_all(lower, lit("[aeiouy]+"), lit(0)))
    docs
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("n_sentences", greatest(nSents.cast("long"), lit(1L)))
      .withColumn("n_syllables",
        greatest(vowelGroups.cast("long"), nWords.cast("long")))
      .select(col(idCol), col("n_sentences"), col("n_words"), col("n_syllables"),
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * col("n_words").cast("double")
              / col("n_sentences").cast("double")
            - lit(84.6) * col("n_syllables").cast("double")
              / col("n_words").cast("double"), 6)).as("flesch"))
  }

  /** Zipf fit of the corpus token-frequency curve: OLS of ln(freq) on
    * ln(rank) over the top-`topK` tokens — a healthy natural-language
    * corpus runs slope ≈ −1 (Zipf 1949); a flat slope screams template/
    * boilerplate spam and a cliff screams deduplication debt. One row
    * (k, slope, intercept, r2).
    *
    * Scale: the token-count aggregation is map-side combined; the
    * top-K cut is a TakeOrderedAndProject (per-partition heaps — the
    * vocabulary long tail never reaches a global sort); the rank
    * window and the OLS aggregate run over K rows. Determinism: both
    * logs are micro-nat-rounded longs (ln is libm-bound — last-ulp
    * differences across engines are possible, so fix the value BEFORE
    * summing); the OLS numerators/denominators are exact decimal(38)
    * sums of those integers; the three divisions at the edge are
    * fixed-shape doubles, rounded 6 dp. Ties in frequency rank by
    * token ascending (total order — the globalRowNumber contract). */
  def zipfSlope(docs: DataFrame, textCol: String, topK: Int = 500): DataFrame = {
    require(topK >= 2, s"zipfSlope: topK=$topK must be >= 2")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok"))
      .limit(topK)
    // K rows from here on: the single-partition rank window is bounded
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__c").desc, col("__tok"))
    val xy = counts
      .withColumn("__r", row_number().over(w))
      .withColumn("__x", round(log(col("__r").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("__y", round(log(col("__c").cast("double")) * 1e6, 0).cast("long"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val agg = xy.agg(
      count(lit(1)).as("k"),
      sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x")) * col("__x")).as("__sxx"),
      sum(dec(col("__y")) * col("__y")).as("__syy"),
      sum(dec(col("__x")) * col("__y")).as("__sxy"))
    val n = dec(col("k"))
    val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val denX = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val denY = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
    // micro-nat sums cancel the 1e6 scale in slope/r2; intercept keeps one
    val slope = num / denX
    agg.select(col("k"),
      when(denX > 0, round(slope, 6)).as("slope"),
      when(denX > 0,
        round((col("__sy").cast("double") - slope * col("__sx").cast("double"))
          / n.cast("double") / 1e6, 6)).as("intercept"),
      when(denX > 0 && denY > 0, round(num * num / (denX * denY), 6)).as("r2"))
  }

  /** Gopher-style composite quality gate (Rae et al. 2021, "Scaling
    * Language Models", table A1): the five repro-friendly rules —
    * word-count range, mean-word-length range, symbol-ratio cap,
    * stopword-ratio floor, duplicate-bigram-mass cap — each emitted as
    * its own boolean beside the measured value, plus the conjunction.
    * Emitting per-rule flags (not just the filtered table) is what lets
    * a corpus report say WHICH rule removed each slice — the number a
    * data-mix owner actually asks for.
    *
    * All measurements reuse the exact expressions of q30/q272 (6-dp
    * rounds, same token split), so the thresholds compare against
    * engine-stable values. Docs with < 2 tokens have no bigrams: their
    * duplicate-bigram mass is 0 by convention (vacuously clean).
    *
    * Scale: the per-row stats are scan-side; the bigram mass is one
    * (doc, bigram) map-side-combined aggregation joined back on the doc
    * key — the one exchange this gate costs at 100 TB. */
  def gopherFilter(docs: DataFrame, idCol: String, textCol: String = "text",
                   minWords: Int = 20, maxWords: Int = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1, minStopRatio: Double = 0.05,
                   maxDupShare: Double = 0.1): DataFrame = {
    val t = col(textCol)
    val base = docs.select(col(idCol), t.as("__text"),
      tokenCount(t).cast("long").as("n_tokens"),
      meanTokenLength(t).as("mean_word_len"),
      punctRatio(t).as("symbol_ratio"),
      stopwordRatio(t).as("stop_ratio"))
    val dup = dupNgramShare(docs, idCol, n = 2, textCol)
    base.join(dup, Seq(idCol), "left")
      .withColumn("dup_bigram_share", coalesce(col("dup_share"), lit(0.0)))
      .withColumn("r_word_count", col("n_tokens").between(minWords, maxWords))
      .withColumn("r_word_len",
        col("mean_word_len").between(minMeanLen, maxMeanLen))
      .withColumn("r_symbol", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("r_stop", col("stop_ratio") >= minStopRatio)
      .withColumn("r_dup", col("dup_bigram_share") <= maxDupShare)
      .select(col(idCol), col("n_tokens"), col("mean_word_len"),
        col("symbol_ratio"), col("stop_ratio"), col("dup_bigram_share"),
        col("r_word_count"), col("r_word_len"), col("r_symbol"),
        col("r_stop"), col("r_dup"),
        (col("r_word_count") && col("r_word_len") && col("r_symbol")
          && col("r_stop") && col("r_dup")).as("pass"))
  }

  /** Per-document Shannon entropy of the token distribution, in nats:
    * H = ln(n) − (Σ c·ln c)/n over the doc's token counts — the
    * lexical-diversity score between [[features]]' type/token ratio
    * (which saturates) and [[dupNgramShare]] (which needs repeats to be
    * adjacent-structured). Low entropy at high length = generated or
    * templated filler; the Gopher-style corpus filters threshold on it.
    * Output: (id, n_tokens, n_types, entropy).
    *
    * Determinism: the q80 integer-ln protocol — ln(c) quantizes to
    * micro-nats per DISTINCT count, Σ c·ln c is exact integer
    * arithmetic, and the final H is one division + one subtraction of
    * identical values on every engine, rounded 6 dp.
    *
    * Scale: tokens reduce to (doc, token, count) on the first exchange
    * (map-side combine), then one doc-keyed aggregation; nothing is
    * vocabulary- or corpus-broadcast. */
  def tokenEntropy(docs: DataFrame, idCol: String,
                   textCol: String = "text"): DataFrame = {
    docs.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__lc", round(log(col("__c").cast("double")) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__c") * col("__lc")).as("__s"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        round((round(log(col("n_tokens").cast("double")) * 1e6, 0)
          - col("__s").cast("double") / col("n_tokens").cast("double")) / 1e6, 6)
          .as("entropy"))
  }
}
