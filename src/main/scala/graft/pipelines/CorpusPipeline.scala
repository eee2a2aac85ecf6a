package graft.pipelines

import graft.QueryCleanup
import graft.ops.{Dedup, Packing, Sampling, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full training-corpus preparation pipeline, composed from the
  * engine's operators in the order a production run executes them:
  *
  *  1. normalize   — unicode NFC + cleanup (so dedup sees one byte form)
  *  2. quality     — C4/Gopher rule filter (cheap per-row predicates first)
  *  3. exact dedup — min-id survivor per 128-bit content hash
  *  4. near dedup  — MinHash+LSH pairs → connected components → keep the
  *                   cluster-canonical (min-id) doc
  *  5. decontam    — drop docs sharing an n-gram with the benchmark set
  *  6. split       — deterministic hash train/val/test labels
  *  7. pack        — ~budget-token bins per source shard
  *
  * Stage order is cost-ordered: per-row predicates run before the
  * shuffling dedup stages, near-dup runs on the exact-deduped survivor
  * set, and decontamination's broadcast semi-join runs on the already-
  * shrunk corpus. Every stage is the exact operator its own oracle query
  * verifies (q87, q72, q34, q36/q76, q77, q74, q75) — the pipeline adds
  * composition, not new semantics.
  *
  * Per-stage surviving-row counts (the run report a pipeline owner
  * monitors) are OPT-IN via `collectCounts`: counting forces every cached
  * stage eagerly, which at corpus scale means several full materializations
  * bought purely for the report. With `collectCounts = false` (the
  * default) only the connected-components stage runs eagerly (its driver
  * loop is inherent to the algorithm); everything downstream of it stays
  * lazy until the caller acts on `corpus`.
  */
final case class CorpusStageCounts(input: Long, normalized: Long,
                                   quality: Long, exactDedup: Long,
                                   nearDedup: Long, decontaminated: Long)

/** `counts` is Some iff the pipeline ran with `collectCounts = true`.
  * `cachedStages` are upstream stages the lazy `corpus` plan still reads
  * from; `releases` free storage DataFrame.unpersist can't reach (the
  * connected-components label checkpoint). Call [[unpersist]] when done
  * with the result — it releases everything the pipeline allocated.
  */
final case class CorpusResult(corpus: DataFrame,
                              counts: Option[CorpusStageCounts],
                              cachedStages: Seq[DataFrame] = Nil,
                              releases: Seq[() => Unit] = Nil) {
  def unpersist(): Unit = {
    (corpus +: cachedStages).foreach(_.unpersist())
    releases.foreach(_())
  }
}

object CorpusPipeline {

  def run(docs: DataFrame, bench: DataFrame, idCol: String = "doc_id",
          textCol: String = "text", shardCol: String = "source",
          minTokens: Int = 5, shingleN: Int = 2, nearDupThreshold: Double = 0.8,
          decontamN: Int = 8, tokenBudget: Int = 512,
          splitWeights: Seq[(String, Double)] =
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
          collectCounts: Boolean = false,
          packOnBpe: Boolean = false): CorpusResult = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val inputN = if (collectCounts) Some(docs.count()) else None

    // 1-2: per-row stages, no shuffle. `quality` feeds both sides of the
    // exact-dedup semi-join, so it is cached in both modes.
    val normalized = docs.withColumn(textCol, TextAnalysis.normalizeText(col(textCol)))
    val quality = TextAnalysis.corpusFilter(normalized, textCol,
      minTokens = minTokens, maxTokens = 100000,
      minMeanTokLen = 1.0, maxMeanTokLen = 20.0,
      maxPunctRatio = 0.5, minStopwordRatio = 0.0).cache()
    val qualityN = if (collectCounts) Some(quality.count()) else None

    // 3: exact dedup (content-hash argmin), keep full rows via semi-join.
    // Cached in both modes: the LSH pair generation (eagerly driven by the
    // CC loop below) and the later anti-join both scan it.
    val exact = quality.join(
      Dedup.exact(quality, idCol, textCol), Seq(idCol), "left_semi").cache()
    val exactN = if (collectCounts) Some(exact.count()) else None

    // 4: near-dup canonicalization — LSH pairs, CC labels, keep min-id.
    // dedupClusters is an eager driver loop; computing the pairs populates
    // the `exact` cache even in lazy mode. Each operator registers its
    // frees under its own nested cleanup scope, so the PIPELINE decides
    // when each is drained (the spec's no-leaked-caches contract).
    val tag = java.util.UUID.randomUUID.toString
    val lshScope = s"corpus-lsh-$tag"
    val ccScope = s"corpus-cc-$tag"
    val pairs = QueryCleanup.scoped(lshScope)(
      Dedup.minhashLsh(exact, idCol, textCol, shingleN, nearDupThreshold))
    val clusters = QueryCleanup.scoped(ccScope)(Dedup.dedupClusters(pairs))
    val releaseClusters = () => QueryCleanup.drain(ccScope)
    // the CC loop above consumed the pairs eagerly; the shingle cache
    // has served all its consumers
    QueryCleanup.drain(lshScope)
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    val near = exact.join(losers, Seq(idCol), "left_anti")
    // exact is materialized by the CC loop above, so quality's cache has
    // served its one purpose and can go in both modes.
    quality.unpersist()

    // 5: benchmark decontamination — bench normalized the same way so
    // n-gram collision happens in the same canonical text space
    val benchNorm = bench.withColumn(textCol, TextAnalysis.normalizeText(col(textCol)))
    val clean = Dedup.decontaminate(near, benchNorm, idCol, textCol, decontamN)
    val (nearN, cleanN) =
      if (collectCounts) {
        // cache near so its anti-join is paid once: near.count() fills the
        // cache, clean's scan reads it (CacheManager matches the plan).
        near.cache()
        val nN = Some(near.count())
        val cN = Some(clean.cache().count())
        // clean is now materialized; nothing downstream re-reads
        // near/exact/clusters.
        near.unpersist()
        exact.unpersist()
        releaseClusters()
        (nN, cN)
      } else (None, None)

    // 6-7: split labels + sequence packing. `packOnBpe` bins on REAL
    // byte-pair-encoding counts (the graft_bpe_count kernel over the
    // shipped merges table) instead of the whitespace proxy — what a
    // production pipeline packs on; both are per-row codegen'd kernels,
    // so the plan shape (one window shuffle) is identical.
    val tokenCount =
      if (packOnBpe) graft.functions.GraftFunctions.bpeCountNative(col(textCol))
      else TextAnalysis.tokenCount(col(textCol)).cast("long")
    val split = Sampling.hashSplit(clean, idCol, splitWeights)
    val packed = Packing.packSequences(
      split.withColumn("__nt", tokenCount),
      idCol, "__nt", shardCol, tokenBudget)
      .withColumnRenamed("__nt", "n_tokens")

    val counts = for {
      i <- inputN; q <- qualityN; e <- exactN; n <- nearN; c <- cleanN
    } yield CorpusStageCounts(i, i, q, e, n, c)
    // In counting mode the corpus is cached for the caller's metric fan-out;
    // in lazy mode a one-shot consumer shouldn't pay the cache write.
    val corpus = if (collectCounts) packed.cache() else packed
    val cached = if (collectCounts) Seq(clean) else Seq(exact)
    // lazy mode: the corpus plan still reads the CC labels — hand their
    // release to the result (counting mode released them above)
    val rel = if (collectCounts) Nil else Seq(releaseClusters)
    CorpusResult(corpus, counts, cachedStages = cached, releases = rel)
  }
}
