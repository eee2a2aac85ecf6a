package graft.ops

import graft.functions.{GraftFunctions, TextHashImpl}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Extension surface per SURVEY §7.2 step 7.
  *
  * Two paths:
  *  - `knnBruteForce`: broadcast the (small) query set against the full
  *    corpus — exact, one pass over the data, no corpus shuffle. This is
  *    the correctness baseline and stays viable at 100 TB whenever the
  *    query set is broadcastable (each executor streams its partitions
  *    once; the top-k reduces map-side via the rank window over the
  *    query-id partition).
  *  - `knnIvf`: IVF-style two-level search — k-means-ish coarse centroids
  *    (here: per-label mean, i.e. the cluster assignment is precomputed,
  *    as a real IVF index would persist it), probe the nearest `nprobe`
  *    cells only. Scan cost drops by ~nlist/nprobe; the cell assignment
  *    is a broadcast join against the tiny centroid table.
  *
  * All arithmetic is index-ordered double accumulation (the native
  * GraftCosine kernel; the declarative zip_with/aggregate twin is kept as
  * its cross-check) so an external SQL oracle reproduces results
  * bit-for-bit before rounding; similarities are rounded to 6dp BEFORE
  * ranking so cross-engine last-ulp differences can never flip an
  * ordering.
  */
object Similarity {

  /** Index-ordered double dot product of two array<numeric> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)

  /** Cosine similarity, 6 dp, computed by the ORDER-FREE integer-micro
    * kernel (GraftCosineMicro8): per-term dot and squared-norm terms
    * quantize to round(t·1e8) longs, integer-sum (associative — no
    * fold-order dependence), one IEEE division/sqrt at the edge. Any SQL
    * engine replays it as integer sums — no reliance on a builtin's
    * accumulation order, which is the channel that let a DuckDB-version
    * change flip a 6-dp boundary under the old raw-double kernel (the
    * r13 q299 gate mode). Values differ from the raw kernel by < 1e-6
    * (one 6-dp ulp) on unit-scale vectors. Requires
    * GraftFunctions.ensureRegistered on the session. */
  def cosine(a: Column, b: Column): Column =
    GraftFunctions.cosineMicro8Native(a, b)

  /** The RAW index-ordered double cosine (GraftCosine kernel), 6 dp —
    * kept for SIGN-ONLY uses (hyperplane side tests), whose oracles
    * replay the raw-double dot; [[cosine]] is the protocol for anything
    * whose VALUE reaches a result. */
  private[graft] def cosineRaw(a: Column, b: Column): Column =
    round(GraftFunctions.cosineNative(a, b), 6)

  /** Squared-norm micro sum Σ round(x_i²·1e8) — a PER-ROW constant, so
    * pair scorers compute it once per vector instead of re-deriving both
    * norms inside every pair (the [[cosine]] kernel's 3-loops-per-pair
    * becomes 1: the r14 q119 hot-path fix). */
  private[graft] def normMicro8(v: Column): Column =
    GraftFunctions.dotMicro8Native(v, v)

  /** [[cosine]]'s value from precomputed micro parts — BIT-IDENTICAL to
    * GraftCosineMicro8 (same integer sums, same edge division/sqrt
    * chain, 6 dp, null on a zero norm), so oracles replaying the kernel
    * protocol need no change when a scorer uses the decomposed form. */
  private[graft] def cosineFromMicro(dm: Column, nam: Column, nbm: Column): Column =
    when(nam > 0 && nbm > 0,
      round((dm.cast("double") / lit(1e8)) /
        (sqrt(nam.cast("double") / lit(1e8)) * sqrt(nbm.cast("double") / lit(1e8))), 6))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be broadcast-small; output (qid, rank, vec_id, sim). */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    // norms are per-ROW constants: compute each side's micro norm once
    // before the join so the pair loop is one kernel pass, not three
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      normMicro8(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
      normMicro8(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")),
          col("__qn"), col("__cn")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "sim")
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): recall@k of PREFIX-TRUNCATED embeddings
    * against the full-dimension exact top-k — the measurement that
    * decides how many leading dimensions a serving index can keep (MRL
    * models pack information front-loaded; ad-hoc embeddings may not).
    * For each d in `dims`: run the same exact scorer on the first d
    * components, count how many of the full-dim top-k survive, and
    * report mean recall over the query set. One row per d.
    *
    * Scale: the ground truth is computed ONCE and persisted (k·|queries|
    * id pairs — bounded); each truncation reuses the [[knnBruteForce]]
    * shape (broadcast queries, scan-side slice, per-query top-k window).
    * At corpus scale the caller swaps the brute scorer for the IVF
    * routed one; the audit arithmetic is unchanged. */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "matryoshkaRecall: dims empty")
    require(dims.forall(_ >= 1), s"matryoshkaRecall: dims $dims not all >= 1")
    val nq = queries.agg(count(lit(1)).as("__nq"))
    val full = knnBruteForce(corpus, queries, idCol, vecCol, k)
      .select(col("qid"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => full.unpersist())
    dims.map { d =>
      def trunc(df: DataFrame) = df.withColumn(vecCol, slice(col(vecCol), 1, d))
      knnBruteForce(trunc(corpus), trunc(queries), idCol, vecCol, k)
        .select(col("qid"), col("vec_id"))
        .join(full, Seq("qid", "vec_id"))
        .agg(count(lit(1)).as("__hits"))
        .crossJoin(broadcast(nq))
        .select(lit(d.toLong).as("dims"),
          round(col("__hits") / (col("__nq") * k).cast("double"), 6)
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Recall audit of the 1-bit Hamming tier ([[knnHamming]]) against the
    * exact cosine top-k, per cutoff k — the measurement that decides how
    * big a Hamming shortlist must be before the exact re-rank, exactly
    * like [[matryoshkaRecall]] decides prefix dims. One row per k:
    * |hamming-top-k ∩ exact-top-k| / (|queries|·k). Both rankings are
    * already exact-integer protocols, so the audit itself hash-checks.
    *
    * Scale: both top-k tables are |queries|·kMax rows (bounded); each
    * leg is one bounded join + a 1-row aggregate. */
  def hammingRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, dim: Int, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"hammingRecall: bad ks $ks")
    val kMax = ks.max
    val nq = queries.agg(count(lit(1)).as("__nq"))
    val exact = knnBruteForce(corpus, queries, idCol, vecCol, kMax)
      .select(col("qid"), col("rank").as("__er"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ham = knnHamming(corpus, queries, idCol, vecCol, dim, kMax)
      .select(col("qid"), col("rank").as("__hr"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { exact.unpersist(); ham.unpersist() })
    ks.map { k =>
      exact.filter(col("__er") <= k)
        .join(ham.filter(col("__hr") <= k), Seq("qid", "vec_id"))
        .agg(count(lit(1)).as("__hits"))
        .crossJoin(broadcast(nq))
        .select(lit(k.toLong).as("k"),
          round(col("__hits") / (col("__nq") * k).cast("double"), 6)
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Cell-BALANCE audit of a coarse quantizer — the index-health number
    * next to [[ivfPqOccupancyDrift]]'s distributional one: IVF search
    * cost is driven by the cells the router probes, so one bloated cell
    * (bad fit, duplicated content, collapsed embeddings) silently turns
    * "probe 2 of 10 cells" into "scan a third of the corpus". One row:
    * cell count, corpus size, max/min occupancy, HHI concentration with
    * its effective-cell inverse, and max-over-mean skew — the numbers a
    * retrain gate thresholds on. Exact-integer counts, two IEEE
    * divisions at the edge, so the audit hash-checks externally.
    *
    * Scale: one groupBy over the (id, cell) code table to ≤ nlist rows,
    * then a scalar aggregate. */
  def ivfCellBalance(index: IvfIndex): DataFrame = {
    val counts = index.assignments.groupBy(col("cell"))
      .agg(count(lit(1)).as("__n"))
    counts.agg(
        count(lit(1)).as("n_cells"),
        sum(col("__n")).as("n_vecs"),
        max(col("__n")).as("max_cell"),
        min(col("__n")).as("min_cell"),
        sum(col("__n") * col("__n")).as("__sq"))
      .select(col("n_cells"), col("n_vecs"), col("max_cell"), col("min_cell"),
        round(col("__sq").cast("double")
          / (col("n_vecs") * col("n_vecs")).cast("double"), 6).as("hhi"),
        round((col("n_vecs") * col("n_vecs")).cast("double")
          / col("__sq").cast("double"), 6).as("effective_cells"),
        round(col("max_cell").cast("double") * col("n_cells").cast("double")
          / col("n_vecs").cast("double"), 6).as("max_over_mean"))
  }

  /** Two-stage retrieve-then-rerank AUDIT — the cross-encoder serving
    * pattern measured end to end: the cheap 1-bit Hamming tier
    * ([[knnHamming]]) retrieves a `shortlist` of candidates per query,
    * the expensive exact scorer (the integer-micro cosine kernel, the
    * stand-in for a cross-encoder whose cost forbids full-corpus
    * application) re-ranks ONLY that shortlist, and the audit reports
    * where the final top-k actually came from: each surviving row
    * carries its tier rank and its displacement, so "the re-ranker
    * rescued rank-17 to position 1" is visible per query rather than
    * averaged away. Both stages are exact-integer protocols —
    * bit-packed Hamming, micro-unit cosine — so the audit hash-matches
    * an external engine row for row.
    *
    * Output: (qid, final_rank ≤ k, vec_id, tier_rank ≤ shortlist, sim,
    * moved = tier_rank − final_rank; positive = the re-ranker promoted).
    *
    * Scale: the expensive scorer touches |queries|·shortlist rows — the
    * whole point of the tier; the shortlist join back to vectors is a
    * bounded semi-join (ids), never a second corpus scan of pairs. */
  def hammingRerankAudit(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, dim: Int,
                         shortlist: Int, k: Int): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"hammingRerankAudit: need shortlist=$shortlist >= k=$k >= 1")
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val tier = knnHamming(corpus, queries, idCol, vecCol, dim, shortlist)
      .select(col("qid"), col("vec_id"), col("rank").as("tier_rank"))
    val cand = tier.join(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
        normMicro8(col(vecCol)).as("__cn")),
      Seq("vec_id"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      normMicro8(col(vecCol)).as("__qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand.join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("tier_rank"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")),
          col("__qn"), col("__cn")).as("sim"))
      .withColumn("final_rank", row_number().over(w).cast("long"))
      .filter(col("final_rank") <= k)
      .select(col("qid"), col("final_rank"), col("vec_id"),
        col("tier_rank"), col("sim"),
        (col("tier_rank") - col("final_rank")).as("moved"))
  }

  /** Contrastive HARD-negative mining: for each query, the top-k most
    * similar corpus vectors with a DIFFERENT label — the negatives that
    * actually move a contrastive loss (random negatives, q246, are
    * mostly easy; the hard ones sit just across the decision boundary).
    * Same broadcast+window shape as [[knnBruteForce]] with the label
    * inequality fused into the join condition, so mismatched pairs are
    * dropped BEFORE scoring; at scale route through the IVF cells first
    * ([[knnIvfTrained]]) and apply the same label filter inside probed
    * cells. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    labelCol: String, vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(labelCol).as("__ql"),
      col(vecCol).as("__qv"), normMicro8(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("vec_id"), col(labelCol).as("__cl"),
      col(vecCol).as("__cv"), normMicro8(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q),
        col("qid") =!= col("vec_id") && col("__ql") =!= col("__cl"))
      .select(col("qid"), col("vec_id"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")),
          col("__qn"), col("__cn")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "sim")
  }

  /** Element-wise mean vector per cell: the coarse centroid table.
    * posexplode + group — one shuffle over (cell, pos), tiny output. */
  def centroids(corpus: DataFrame, cellCol: String, vecCol: String): DataFrame =
    corpus.select(col(cellCol).as("cell"), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col("cell"), col("__p"))
      .agg(avg(col("__v").cast("double")).as("__m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("__p"), col("__m")))).as("__pm"))
      // elements rounded to 6dp so cross-engine accumulation-order ulps in
      // the mean can never shift downstream routing decisions
      .select(col("cell"), transform(col("__pm"), s => round(s.getField("__m"), 6)).as("centroid"))

  /** IVF search: route each query to its `nprobe` nearest coarse
    * centroids, then exact top-k within those cells only. Scan cost drops
    * by ~nlist/nprobe vs brute force; raising nprobe trades scan for
    * recall. Output as knnBruteForce. */
  def knnIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, cellCol: String, k: Int,
             nprobe: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
      col(cellCol).as("cell"))
    ivfSearch(c, queries, idCol, vecCol,
      centroids(corpus, cellCol, vecCol), k, nprobe)
  }

  /** Trained IVF index: cell assignments for the full corpus plus the
    * coarse-centroid table. Both are plain DataFrames — a production
    * deployment writes them to parquet once (the "persisted index") and
    * every subsequent query reads them instead of re-training; at 100 TB
    * the assignment table is the only large artifact and it partitions by
    * cell, exactly the layout [[knnIvfTrained]]'s cell-pruned scan wants. */
  final case class IvfIndex(assignments: DataFrame, centroids: DataFrame)

  /** Train a coarse quantizer: KMeans (fixed seed) on a sample of the
    * corpus, then assign every corpus vector to its nearest centroid.
    * `sampleFraction < 1` keeps the Lloyd iterations O(sample) while the
    * single assignment pass stays O(corpus) — the standard IVF build. */
  def trainIvf(corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
               seed: Long = 42L, sampleFraction: Double = 1.0): IvfIndex = {
    val vecs = corpus.select(col(idCol),
      array_to_vector(col(vecCol).cast("array<double>")).as("__fv"))
    val train = if (sampleFraction < 1.0)
      vecs.sample(withReplacement = false, sampleFraction, seed) else vecs
    val fit = graft.ml.GraftKMeans.fit(train, "__fv", nlist, seed)
    val assignments = vecs.select(col(idCol), fit.cluster.as("cell"))
    // centroid table sized from the FIT and rounded via the shared
    // contract (GraftKMeans.roundedCenters) — degenerate inputs yield
    // fewer than nlist centers and the table must match them exactly
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = graft.ml.GraftKMeans.roundedCenters(fit).zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "centroid")
    IvfIndex(assignments, cents)
  }

  /** [[trainIvf]] with the DETERMINISTIC integer-micro Lloyd quantizer
    * ([[graft.ml.DeterministicKMeans.fitArrayMicros]]) instead of MLlib —
    * the coarse quantizer whose whole fit replays bit-for-bit in SQL, so
    * a trained-IVF search can be ORACLE-checked end to end (q67) rather
    * than recall-banded. Centroids surface as micros/1e6 doubles — the
    * same 6-dp-quantized form [[GraftKMeans.roundedCenters]] feeds the
    * shared search core, and exactly what the oracle's integer unroll
    * divides out. */
  def trainIvfDeterministic(corpus: DataFrame, idCol: String, vecCol: String,
                            nlist: Int, iters: Int = 8): IvfIndex = {
    val (cents, assigned) = graft.ml.DeterministicKMeans.fitArrayMicros(
      corpus.select(col(idCol), col(vecCol)), vecCol, nlist, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centsDf = cents
      .map { case (cell, cv) => (cell, cv.map(_ / 1e6).toSeq) }
      .toDF("cell", "centroid")
    IvfIndex(assigned.select(col(idCol), col("cell")), centsDf)
  }

  /** IVF search against a trained (or loaded) index. */
  def knnIvfTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, index: IvfIndex, k: Int,
                    nprobe: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
      .join(index.assignments.select(col(idCol).as("vec_id"), col("cell")), Seq("vec_id"))
    ivfSearch(c, queries, idCol, vecCol, index.centroids, k, nprobe)
  }

  /** Shared IVF core: broadcast the tiny centroid table to rank cells per
    * query, keep the top `nprobe`, then scan only those cells (corpus join
    * on the broadcast (qid, cell) routing table — each probed cell's
    * partition is read once, everything else is pruned). */
  private def ivfSearch(c: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, cents: DataFrame, k: Int,
                        nprobe: Int): DataFrame = {
    GraftFunctions.ensureRegistered(c.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      normMicro8(col(vecCol)).as("__qn"))
    val routed = q.join(broadcast(cents))
      .select(col("qid"), col("__qv"), col("__qn"), col("cell"),
        cosine(col("__qv"), col("centroid")).as("__csim"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("__csim").desc, col("cell"))
    val best = routed.withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("__qv"), col("__qn"), col("cell"))
    val scored = c.withColumn("__cn", normMicro8(col("__cv")))
      .join(broadcast(best), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")),
          col("__qn"), col("__cn")).as("sim"))
    // rank via the bounded-heap aggregate: map-side partial top-k per
    // query, so the exchange carries <= k rows per (map, query) instead
    // of every scored row (see knnBruteForceAgg; identical ordering
    // contract, proven by the q39/q66 oracles).
    scored.groupBy(col("qid"))
      .agg(GraftFunctions.topKNative(col("sim"), col("vec_id"), k).as("__tk"))
      .select(col("qid"), posexplode(col("__tk")).as(Seq("__r", "__p")))
      .select(col("qid"), (col("__r") + 1).cast("long").as("rank"),
        col("__p.vec_id").as("vec_id"), col("__p.sim").as("sim"))
  }

  /** Grouped IVF recall CURVE — recall@k vs nprobe in ONE query: the
    * tuning table an index operator actually reads before picking the
    * scan-vs-recall knob, operationalizing the q160/q318/q322
    * single-point audits. For every (nprobe, k) pair: what fraction of
    * the EXACT cosine top-k lands in the union of the query's `nprobe`
    * nearest coarse cells — candidate recall, the quantity that bounds
    * any exact re-ranked IVF search from above (a neighbor in an
    * unprobed cell is unrecoverable downstream; [[knnIvfPqRefined]]'s
    * recall = this curve × PQ shortlist effects).
    *
    * One pass computes the whole grid: each exact top-kmax neighbor
    * joins its home cell's ROUTING RANK for its query (the position of
    * that cell in the query's nearest-cell order — the same 9-dp-exact
    * squared-L2 protocol [[knnIvfPq]] routes by, cell-asc ties), and a
    * neighbor is recalled at (nprobe, k) iff rank ≤ k AND cellrank ≤
    * nprobe. No per-nprobe re-search: the grid is a literal broadcast
    * and the counting is one aggregation.
    *
    * Determinism: ground-truth ranks are [[knnBruteForce]]'s (6-dp
    * rounded sim, id ties); cell ranks are integer-micro L2 with cell
    * ties — both exact protocols, so the curve hash-checks; the single
    * double division is rounded to 6 dp.
    *
    * Scale: ground truth is one brute pass with the query set broadcast
    * (swap in the routed searcher at corpus scale — the audit algebra
    * is unchanged); everything after is |queries|·kmax rows joined to
    * bounded (query × cell) routing and 1-row-per-vector assignments. */
  def ivfRecallCurve(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, index: IvfIndex,
                     nprobes: Seq[Int], ks: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && ks.nonEmpty, "need at least one nprobe and one k")
    require(nprobes.forall(_ >= 1) && ks.forall(_ >= 1),
      "nprobe and k values must be >= 1")
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._
    val kMax = ks.max
    val truth = knnBruteForce(corpus, queries, idCol, vecCol, kMax)
      .select(col("qid"), col("vec_id"), col("rank"))
    // routing rank of every cell for every query — |queries| x nlist
    // rows, the same integer-micro L2 + cell-asc protocol knnIvfPq
    // routes by
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("__qv"))
    val routed = q.join(broadcast(index.centroids))
      .select(col("qid"), col("cell"),
        GraftFunctions.l2Micro8Native(col("__qv"),
          col("centroid").cast("array<double>")).as("__cd2"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("__cd2"), col("cell"))
    val cellRank = routed.withColumn("cellrank", row_number().over(wq).cast("long"))
      .select("qid", "cell", "cellrank")
    val homed = truth
      .join(index.assignments.select(col(idCol).as("vec_id"), col("cell")),
        Seq("vec_id"))
      .join(cellRank, Seq("qid", "cell"))
    val grid = nprobes.flatMap(p => ks.map(kk => (p.toLong, kk.toLong)))
      .toDF("nprobe", "k")
    val nq = truth.agg(countDistinct(col("qid")).as("n_queries"))
    homed.crossJoin(broadcast(grid))
      .groupBy(col("nprobe"), col("k"))
      .agg(sum(when(col("rank") <= col("k") &&
          col("cellrank") <= col("nprobe"), 1L).otherwise(0L)).as("hits"))
      .crossJoin(broadcast(nq))
      .select(col("nprobe"), col("k"), col("n_queries"), col("hits"),
        round(col("hits").cast("double")
          / (col("k") * col("n_queries")).cast("double"), 6).as("recall"))
  }

  /** 2^59 — maps the 60-bit portable hash onto [0, 2) so `h/2^59 - 1`
    * is a deterministic uniform in [-1, 1). Exactly representable as a
    * double, so the division is a single correctly-rounded IEEE op in
    * every engine. */
  private val HalfHashDomain = 576460752303423488.0

  /** Deterministic random hyperplanes, derived from the portable 60-bit
    * md5 hash of "tag|table|plane|dim-index" — no RNG state, so an
    * external SQL engine regenerates the identical planes (DuckDB:
    * `CAST('0x'||substr(md5(s),1,15) AS BIGINT)/2^59 - 1`) and the cell
    * assignment is oracle-checkable end to end. */
  def hyperplanes(tag: String, nTables: Int, nPlanes: Int,
                  dim: Int): IndexedSeq[IndexedSeq[Array[Double]]] =
    IndexedSeq.tabulate(nTables)(t => IndexedSeq.tabulate(nPlanes)(b =>
      Array.tabulate(dim)(j =>
        TextHashImpl.phash(UTF8String.fromString(s"$tag|$t|$b|$j"))
          / HalfHashDomain - 1.0)))

  /** [[knnBruteForce]] with the ranking done by the native bounded-heap
    * aggregate (graft_topk) instead of a row_number window. Identical
    * output; radically different exchange: the window shuffles EVERY
    * scored (qid, vec_id, sim) row and sorts each qid group, while the
    * heap aggregate reduces each map task's slice to <= k pairs per qid
    * BEFORE the shuffle (partial aggregation), so the exchange carries
    * O(k · maps) rows per query instead of O(corpus). The preferred form
    * once the corpus outgrows one partition per query. */
  def knnBruteForceAgg(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      normMicro8(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
      normMicro8(col(vecCol)).as("__cn"))
    c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")),
          col("__qn"), col("__cn")).as("sim"))
      .groupBy(col("qid"))
      .agg(GraftFunctions.topKNative(col("sim"), col("vec_id"), k).as("__tk"))
      .select(col("qid"), posexplode(col("__tk")).as(Seq("__r", "__p")))
      .select(col("qid"), (col("__r") + 1).cast("long").as("rank"),
        col("__p.vec_id").as("vec_id"), col("__p.sim").as("sim"))
  }

  /** Symmetric per-vector int8 quantization of an embedding column:
    * q_i = round(x_i · 127 / max|x|) ∈ [-127, 127]. The 4× (vs float32)
    * storage cut is what makes a 100 TB ANN index fit executor memory /
    * page cache; cosine is scale-invariant, so quantized search needs no
    * dequantization at all — [[knnQuantized]] ranks on the int vectors
    * directly. `max_abs` (6dp) is kept for reconstruction (x̂ = q·mx/127).
    *
    * Arithmetic is (x·127)/mx in that association with round() half-up —
    * both replayable in external SQL, so the quantized index itself is
    * oracle-checkable. The transform lambdas are interpreted, which is
    * fine for this one-time index-BUILD pass; the search hot path runs
    * the compiled GraftCosine kernel. */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    corpus
      .withColumn("__mx", mx)
      .withColumn("qvec",
        when(col("__mx") > 0,
          transform(col(vecCol),
            x => round(x.cast("double") * lit(127.0) / col("__mx")).cast("int")))
          .otherwise(transform(col(vecCol), _ => lit(0))))
      .select(col(idCol), col("qvec"), round(col("__mx"), 6).as("max_abs"))
  }

  /** 1-bit (sign) quantization of an embedding column into two packed
    * 32-bit words — the most aggressive embedding compression tier
    * (64× vs float32; below [[quantizeInt8]]'s 4× and PQ's ~32×):
    * bit i = 1 iff x_i > 0. Hamming distance between sign patterns is a
    * monotone proxy for angular distance (Charikar 2002 SimHash
    * argument), so a packed-bit scan is the cheapest possible first-pass
    * filter over a web-scale corpus. Packed as two NON-NEGATIVE 32-bit
    * halves (lo = dims 1..32, hi = dims 33..64) so any 64-bit SQL engine
    * replays the packing and XOR/popcount exactly — the same split the
    * aHash Hamming oracle uses. Dims beyond 64 are rejected; dims short
    * of 64 leave high bits 0.
    *
    * Exact and deterministic end to end: comparisons and bit arithmetic
    * only, no floats anywhere. */
  def signBits(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 64, s"signBits: dim=$dim out of [1, 64]")
    def pack(lo: Int, hi: Int): Column =
      (lo until math.min(hi, dim)).map(i =>
        when(element_at(col(vecCol), i + 1) > 0f, lit(1L << (i - lo)))
          .otherwise(lit(0L)))
        .reduceOption(_ + _).getOrElse(lit(0L))
    corpus.select(col(idCol), pack(0, 32).as("bits_lo"), pack(32, 64).as("bits_hi"))
  }

  /** Exact Hamming top-k over [[signBits]] patterns: per query, the k
    * corpus vectors with the fewest sign disagreements (ties to the
    * smallest id). XOR + popcount on two packed words per pair — integer
    * only, codegen'd, no similarity floats — making the ANN first-pass
    * tier itself hash-checkable by an external engine. Queries broadcast
    * (bounded query set), one corpus scan, per-query top-k window. */
  def knnHamming(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, dim: Int, k: Int): DataFrame = {
    val c = signBits(corpus, idCol, vecCol, dim)
      .withColumnRenamed(idCol, "vec_id")
    val q = signBits(queries, idCol, vecCol, dim)
      .select(col(idCol).as("qid"), col("bits_lo").as("__qlo"),
        col("bits_hi").as("__qhi"))
    val dist = (bit_count(col("bits_lo").bitwiseXOR(col("__qlo"))) +
      bit_count(col("bits_hi").bitwiseXOR(col("__qhi")))).cast("long")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("vec_id"))
    c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), dist.as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "hamming")
  }

  /** Exact brute-force top-k over the int8-quantized corpus — the
    * memory-bound variant of [[knnBruteForce]]. Ranks differ from the
    * float path only where quantization noise crosses a similarity gap;
    * SimilaritySpec bands the recall. */
  def knnQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int): DataFrame = {
    val qc = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol), col("qvec").cast("array<double>").as("__qv8"))
    val qq = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol), col("qvec").cast("array<double>").as("__qv8"))
    knnBruteForceAgg(qc, qq, idCol, "__qv8", k)
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` centroids of
    * `subDim` = dim/m floats each. The whole structure is m·ksub·subDim
    * doubles — kilobytes — so it lives on the driver and enters plans as
    * a LITERAL, never a join side. */
  final case class PqIndex(codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
                           m: Int, ksub: Int, subDim: Int)

  /** Train a product quantizer (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * vector into `m` subspaces and KMeans each independently (fixed
    * seed). PQ compresses a 64-dim float vector to m bytes — 32× beyond
    * [[quantizeInt8]]'s 4× — the memory scale path when even int8
    * residency is too large.
    *
    * Training runs m small KMeans fits (offline, like [[trainIvf]]);
    * centroid elements round to 6dp so an external engine replaying the
    * codebooks computes the identical codes. `ksub` is an UPPER bound —
    * MLlib returns fewer centers when a subspace has fewer distinct
    * points (e.g. a constant dimension collapses to one centroid); every
    * consumer here sizes itself from the actual codebook. */
  def trainPq(corpus: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
              seed: Long = 42L): PqIndex = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val books = (0 until m).map { j =>
      val slices = corpus.select(array_to_vector(
        slice(col(vecCol), j * subDim + 1, subDim).cast("array<double>")).as("__fv"))
      graft.ml.GraftKMeans.roundedCenters(
        graft.ml.GraftKMeans.fit(slices, "__fv", ksub, seed + j))
    }
    PqIndex(books, m, ksub, subDim)
  }

  /** [[trainPq]] with the DETERMINISTIC integer-micro Lloyd per subspace
    * ([[graft.ml.DeterministicKMeans.fitGroupedArrayMicros]] — all m
    * fits share each round's job) instead of m MLlib KMeans fits. The
    * codebooks replay bit-for-bit in SQL (micros / 1e6, the q67
    * contract), which upgrades every PQ/IVF-PQ consumer from rows-only
    * recall bands to full hash-checked oracles. */
  def trainPqDeterministic(corpus: DataFrame, vecCol: String, m: Int = 8,
                           ksub: Int = 16, iters: Int = 8): PqIndex = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val sliced = corpus.select(posexplode(array((0 until m).map(j =>
      slice(col(vecCol), j * subDim + 1, subDim).cast("array<double>")): _*))
      .as(Seq("__j", "__sub")))
    val fits = graft.ml.DeterministicKMeans.fitGroupedArrayMicros(
      sliced, "__j", "__sub", ksub, iters)
    val books = (0 until m).map { j =>
      fits(j).sortBy(_._1).map(_._2.map(_ / 1e6).toIndexedSeq).toIndexedSeq
    }
    PqIndex(books, m, ksub, subDim)
  }

  /** Squared L2 between a sliced subvector and a literal centroid, as
    * the order-free integer-micro sum Σ round((a−b)²·1e8) (the
    * GraftL2Micro8 kernel) — argmins and rankings over these longs can
    * never flip on an engine's fold order, which is what the old
    * 9-dp-rounded double fold left exposed. */
  private def subDist2Micro(vec: Column, j: Int, centroid: Seq[Double], subDim: Int): Column =
    GraftFunctions.l2Micro8Native(
      slice(vec, j * subDim + 1, subDim).cast("array<double>"),
      typedLit(centroid))

  /** Encode every vector as `m` centroid codes: per subspace, the argmin
    * over the LITERAL codebook — per-row expressions only, entirely
    * inside codegen, no join and no shuffle. */
  def encodePq(corpus: DataFrame, idCol: String, vecCol: String,
               index: PqIndex): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val codes = (0 until index.m).map { j =>
      // integer-micro distances: any engine's argmin agrees exactly;
      // ties break to the SMALLEST code via array_position's
      // first-match contract
      val dists = array(index.codebooks(j).map(c =>
        subDist2Micro(col(vecCol), j, c, index.subDim)): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    corpus.select(col(idCol), array(codes: _*).as("pq_codes"))
  }

  /** Per-query m×ksub ADC lookup table over the LITERAL codebooks:
    * exact integer-micro subspace distances from `vecCol` to every
    * centroid. Per-row expressions only — no join, no shuffle. */
  private def adcLut(vecCol: String, index: PqIndex): Column =
    array((0 until index.m).map { j =>
      array(index.codebooks(j).map(c =>
        subDist2Micro(col(vecCol), j, c, index.subDim)): _*)
    }: _*)

  /** Heap-aggregate top-k over ADC-scored rows (qid, vec_id, __d2).
    * The heap keeps the LARGEST scores: negate the distance, emit the
    * positive distance back, rank 1 = nearest. */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      // __d2 is an exact micro LONG; the heap ranks on its (exact)
      // double image and the emitted distance scales back at the edge
      .withColumn("__neg", (-col("__d2")).cast("double"))
      .groupBy(col("qid"))
      .agg(GraftFunctions.topKNative(col("__neg"), col("vec_id"), k).as("__tk"))
      .select(col("qid"), posexplode(col("__tk")).as(Seq("__r", "__p")))
      .select(col("qid"), (col("__r") + 1).cast("long").as("rank"),
        col("__p.vec_id").as("vec_id"),
        round(-col("__p.sim") / lit(1e8), 6).as("adc_dist"))

  /** ADC code-to-LUT distance: m table lookups summed — no vector
    * arithmetic in the corpus pass at all. */
  private def adcDist(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (c, l) => element_at(l, c + 1)),
      lit(0L), (acc, x) => acc + x)

  /** ADC (asymmetric distance) top-k over PQ codes: each query builds an
    * m×ksub lookup table of exact subspace distances to every centroid
    * (per-row expressions over the literal codebooks), then every corpus
    * row's distance is m table lookups summed — no vector arithmetic in
    * the corpus pass at all.
    *
    * Scale: the query side (queries × LUTs) broadcasts; the corpus side
    * carries m-byte codes, not vectors; ranking reuses the bounded-heap
    * top-k aggregate, so the exchange is k rows per (partition, query).
    * The scan itself is still the FULL code table — at index scale
    * compose with the coarse quantizer instead ([[knnIvfPq]]), which
    * prunes the scan to the probed cells. */
  def knnPq(encodedCorpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, index: PqIndex, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(encodedCorpus.sparkSession)
    val q = queries.select(col(idCol).as("qid"), adcLut(vecCol, index).as("__lut"))
    val scored = encodedCorpus.crossJoin(broadcast(q))
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("vec_id"),
        adcDist(col("pq_codes"), col("__lut")).as("__d2"))
    adcTopK(scored, k)
  }

  /** The persisted IVF-PQ index layout: every corpus vector's coarse
    * cell plus its m PQ codes — (id, cell, pq_codes). At 100 TB this
    * table (a few bytes per vector) is written once, partitioned by
    * `cell`, and every [[knnIvfPq]] search reads ONLY the probed cells'
    * partitions. */
  def encodeIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                  ivf: IvfIndex, pq: PqIndex): DataFrame =
    encodePq(corpus, idCol, vecCol, pq)
      .join(ivf.assignments.select(col(idCol), col("cell")), Seq(idCol))

  /** IVF-PQ search (Jégou et al. 2011, §V): route each query to its
    * `nprobe` nearest coarse cells by exact squared L2 against the tiny
    * broadcast centroid table — the metric the KMeans coarse quantizer
    * assigned cells by — then run the ADC code scan over ONLY those
    * cells. This removes [[knnPq]]'s full-code-table scan: the corpus
    * side joins the broadcast (cell, qid, LUT) routing table on `cell`,
    * so unprobed cells are pruned before any distance arithmetic, and
    * scan cost drops by ~nlist/nprobe exactly as [[knnIvf]]'s does —
    * compounded with PQ's 32× code compression.
    *
    * `encoded` is [[encodeIvfPq]]'s (id, cell, pq_codes) layout. Output
    * as [[knnPq]] (qid, rank, vec_id, adc_dist). Recall is bounded by
    * cell recall (neighbors in unprobed cells are unseen) × code
    * quantization; `nprobe` is the scan-vs-recall knob. */
  def knnIvfPq(encoded: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, cents: DataFrame, index: PqIndex, k: Int,
               nprobe: Int = 4): DataFrame = {
    GraftFunctions.ensureRegistered(encoded.sparkSession)
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("__qv"),
      adcLut(vecCol, index).as("__lut"))
    // rank cells per query by exact squared L2 to the coarse centroid,
    // 9dp-rounded (ties break to the smallest cell id)
    val routed = q.join(broadcast(cents))
      .select(col("qid"), col("__lut"), col("cell"),
        GraftFunctions.l2Micro8Native(col("__qv"),
          col("centroid").cast("array<double>")).as("__cd2"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("__cd2"), col("cell"))
    val best = routed.withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("__lut"), col("cell"))
    val scored = encoded.join(broadcast(best), Seq("cell"))
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("vec_id"),
        adcDist(col("pq_codes"), col("__lut")).as("__d2"))
    adcTopK(scored, k)
  }

  /** Persist a complete IVF-PQ index as three SnapshotStore tables —
    * the offline-artifact layout a production ANN service loads at
    * startup instead of re-training/re-encoding per process (the
    * per-process memos in the query registry are a cache, not storage):
    * `dir/codes` the (id, cell, pq_codes) table (data-sized, written
    * once; partition by `cell` at scale so probes read only their
    * cells), `dir/centroids` the coarse-centroid table, `dir/codebooks`
    * the m·ksub PQ codebook rows. Each commit is atomic and versioned —
    * a reader never sees a half-published index, and index refreshes
    * keep the previous version readable ([[graft.sources.SnapshotStore]]).
    */
  def saveIvfPqIndex(encoded: DataFrame, cents: DataFrame, pq: PqIndex,
                     dir: String, meta: String = ""): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    graft.sources.SnapshotStore.commit(encoded, s"$dir/codes", meta)
    graft.sources.SnapshotStore.commitSmall(cents, s"$dir/centroids", meta)
    val rows = for { j <- 0 until pq.m; c <- pq.codebooks(j).indices }
      yield (j, c, pq.codebooks(j)(c).toSeq)
    val books = rows.toDF("j", "c", "centroid")
      .withColumn("m", lit(pq.m)).withColumn("ksub", lit(pq.ksub))
      .withColumn("sub_dim", lit(pq.subDim))
    graft.sources.SnapshotStore.commitSmall(books, s"$dir/codebooks", meta)
  }

  /** Load a persisted IVF-PQ index: (codes, centroids, PqIndex). The
    * codebook collect is m·ksub rows (typically 128) — the bounded
    * driver-side artifact the ADC LUT literals are built from, same
    * contract as training in-process. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (DataFrame, DataFrame, PqIndex) = {
    val codes = graft.sources.SnapshotStore.read(spark, s"$dir/codes")
    val cents = graft.sources.SnapshotStore.read(spark, s"$dir/centroids")
    val bookRows = graft.sources.SnapshotStore.read(spark, s"$dir/codebooks")
      .select(col("j"), col("c"), col("centroid"), col("m"), col("ksub"), col("sub_dim"))
      .collect()
    require(bookRows.nonEmpty, s"empty codebook table under $dir/codebooks")
    val m = bookRows.head.getAs[Int]("m")
    val ksub = bookRows.head.getAs[Int]("ksub")
    val subDim = bookRows.head.getAs[Int]("sub_dim")
    val books = (0 until m).map { j =>
      bookRows.filter(_.getAs[Int]("j") == j).sortBy(_.getAs[Int]("c"))
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toIndexedSeq)
        .toIndexedSeq
    }
    (codes, cents, PqIndex(books, m, ksub, subDim))
  }

  /** Nearest coarse cell per row by exact squared L2 against the
    * broadcast centroid table — 9dp-rounded, ties to the smallest cell
    * id: the SAME metric and tie rule [[knnIvfPq]] routes queries with,
    * so a row encoded incrementally lands in exactly the cell a full
    * re-encode against the same stored centroids would pick. Output
    * (idCol, cell). */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  cents: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    val scored = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(cents))
      .select(col(idCol), col("cell"),
        GraftFunctions.l2Micro8Native(col("__v"),
          col("centroid").cast("array<double>")).as("__d2"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d2"), col("cell"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(idCol), col("cell"))
  }

  /** Encode a batch against STORED index artifacts (centroid table +
    * codebooks) into the (id, cell, pq_codes) layout — the row-level
    * primitive both a full build from stored artifacts and an
    * incremental ingest share, which is what makes "incremental ≡ full
    * re-encode" provable: encoding is a pure per-row function of the
    * artifacts, so encoding rows in any grouping yields identical rows. */
  def encodeWithStoredIndex(batch: DataFrame, idCol: String, vecCol: String,
                            cents: DataFrame, pq: PqIndex): DataFrame =
    encodePq(batch, idCol, vecCol, pq)
      .join(assignCells(batch, idCol, vecCol, cents), Seq(idCol))

  /** Incremental IVF-PQ index maintenance: encode a NEW batch with the
    * STORED codebooks/centroids under `dir` ([[saveIvfPqIndex]]'s
    * layout) and commit the appended code table as a new SnapshotStore
    * version — the daily-crawl path that keeps a 100 TB ANN index fresh
    * without the O(corpus) re-train/re-encode. The quantizer artifacts
    * (`centroids`, `codebooks`) are untouched: codes produced today and
    * codes produced at build time are against the SAME geometry, so
    * [[knnIvfPq]] over the grown table is row-identical to a full
    * re-encode of the grown corpus with those artifacts.
    *
    * Replay-safe: ids already present in the stored code table are
    * skipped (anti-join), so re-running a crashed ingest only bumps the
    * version. Quantizer staleness is a separate, MONITORED concern —
    * [[ivfPqOccupancyDrift]] flags when the coarse cells stop fitting
    * the data and a re-train ([[trainIvf]]/[[trainPq]] + full re-encode)
    * is due; until that fires, recall degrades only as far as the data
    * itself drifted. Returns the committed `codes` version. */
  def encodeIntoIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, batch: DataFrame, idCol: String,
                           vecCol: String, meta: String = ""): Long = {
    val (codes, cents, pq) = loadIvfPqIndex(spark, dir)
    val fresh = encodeWithStoredIndex(batch, idCol, vecCol, cents, pq)
      .join(codes.select(col(idCol)), Seq(idCol), "left_anti")
    // append-only commit: only the batch's codes are written — O(batch)
    // per ingest against a 100 TB code table, never a rewrite
    graft.sources.SnapshotStore.commitAppend(
      fresh.select(codes.columns.map(col).toSeq: _*), s"$dir/codes", meta)
  }

  /** Coarse-quantizer drift monitor for a persisted IVF-PQ index:
    * per-cell occupancy PSI between the code table at `baseVersion`
    * (default: the initial build) and the newest committed version —
    * [[DataQuality.psiDrift]]'s arithmetic over cells instead of value
    * bins. Ingested batches that still match the trained geometry leave
    * occupancy shares flat (PSI ≈ 0, cells just grow proportionally); a
    * drifted crawl piles into few cells and PSI rises — the standard
    * gates apply (&gt; 0.25 ⇒ re-train due: the hot cells' scan cost is
    * growing superlinearly and cell recall is decaying). Output: one row
    * per cell (bin, count_a = base, count_b = current, term_micro) with
    * the total `psi_micro` on every row — deterministic micro-unit
    * arithmetic, same contract as psiDrift. The aggregation is
    * cell-keyed (≤ nlist rows); nothing data-sized moves. */
  def ivfPqOccupancyDrift(spark: org.apache.spark.sql.SparkSession,
                          dir: String, baseVersion: Long = 1L): DataFrame = {
    import graft.sources.SnapshotStore
    val codesDir = s"$dir/codes"
    val base = SnapshotStore.readVersion(spark, codesDir, baseVersion)
    val curr = SnapshotStore.read(spark, codesDir)
    val nlist = SnapshotStore.read(spark, s"$dir/centroids").count().toInt
    val counts = base.groupBy(col("cell")).agg(count(lit(1)).as("count_a"))
      .join(curr.groupBy(col("cell")).agg(count(lit(1)).as("count_b")),
        Seq("cell"), "full_outer")
      .select(col("cell").cast("long").as("bin"),
        coalesce(col("count_a"), lit(0L)).as("count_a"),
        coalesce(col("count_b"), lit(0L)).as("count_b"))
    DataQuality.psiTermsFromCounts(counts, nlist)
  }

  /** [[knnIvfPq]] with exact refinement: the cell-pruned ADC scan
    * shortlists `shortlist` candidates per query, then only those rows
    * join back to their float vectors for exact L2 re-ranking — the
    * full production IVF-PQ+refine shape. The corpus pass touches codes
    * in probed cells only; the refine join reads |queries|·shortlist
    * vectors — query-bounded, not corpus-bounded. */
  def knnIvfPqRefined(encoded: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      cents: DataFrame, index: PqIndex, k: Int,
                      nprobe: Int = 4, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 8 * k
    val cand = knnIvfPq(encoded, queries, idCol, vecCol, cents, index, sl, nprobe)
      .select(col("qid"), col("vec_id"))
    exactRefine(cand, corpus, queries, idCol, vecCol, k)
  }

  /** PQ search with exact REFINEMENT (the ADC+refine shape production PQ
    * systems run): ADC shortlists `shortlist` candidates per query from
    * the code scan, then ONLY those rows join back to their float
    * vectors for exact L2 re-ranking. The corpus pass still never
    * touches a vector; the refine join reads |queries|·shortlist vectors
    * — query-bounded, not corpus-bounded. */
  def knnPqRefined(encodedCorpus: DataFrame, corpus: DataFrame,
                   queries: DataFrame, idCol: String, vecCol: String,
                   index: PqIndex, k: Int, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 8 * k
    val cand = knnPq(encodedCorpus, queries, idCol, vecCol, index, sl)
      .select(col("qid"), col("vec_id"))
    exactRefine(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Exact-L2 re-ranking of a (qid, vec_id) candidate shortlist: only
    * shortlisted rows join back to their float vectors (query-bounded
    * read), ranked by the 9dp-rounded squared distance. */
  private def exactRefine(cand: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"))
    val exact = cand
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv")), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        GraftFunctions.l2Micro8Native(col("__qv").cast("array<double>"),
          col("__cv").cast("array<double>")).as("__d2"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__d2"), col("vec_id"))
    exact.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("qid"), col("__r").cast("long").as("rank"),
        col("vec_id"),
        round(col("__d2").cast("double") / lit(1e8), 6).as("l2_dist"))
  }

  /** Embedding near-duplicate pairs via random-hyperplane (SimHash-style)
    * LSH — the scale path when no natural bucketing column exists.
    *
    * Each of `nTables` tables assigns every vector an `nPlanes`-bit cell:
    * bit b is the sign of the cosine against hyperplane (t, b) (sign of
    * the cosine = sign of the dot product; using the 6dp-rounded cosine
    * keeps the bit decision on the same value the oracle computes). A
    * pair at angle θ collides in one table with prob (1-θ/π)^nPlanes and
    * is a candidate if ANY table collides — OR-amplification, so recall
    * rises with nTables while nPlanes controls per-table selectivity.
    *
    * Topology mirrors [[graft.ops.Dedup.minhashLsh]]: the cell self-join
    * exchanges only (table, cell, id) — 20 bytes/row, no vector payload —
    * then distinct candidates join back to the vectors once for exact
    * verification. Per-cell pair count is governed by nPlanes (cell count
    * 2^nPlanes per table scales with the corpus when planes split it
    * evenly), unlike bucketing on a fixed-cardinality data label whose
    * cells grow quadratically with data volume ([[cosineNearDup]] is kept
    * as the exact small-scale/labeled variant). */
  def cosineNearDupLsh(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, threshold: Double, nPlanes: Int = 8,
                       nTables: Int = 8,
                       tag: String = "graft-lsh"): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val planes = hyperplanes(tag, nTables, nPlanes, dim)
    val base = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // one struct per table: cell = Σ_b 2^b · [cos(v, w_tb) ≥ 0]
    val tableCells = (0 until nTables).map { t =>
      val bits = (0 until nPlanes).map { b =>
        when(cosineRaw(col("__v"), typedLit(planes(t)(b).toSeq)) >= 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("__t"), bits.as("__cell"))
    }
    val cells = base
      .select(col("__id"), explode(array(tableCells: _*)).as("__tc"))
      .select(col("__id"), col("__tc.__t").as("__t"), col("__tc.__cell").as("__cell"))
    val cand = cells.select(col("__t"), col("__cell"), col("__id").as("id_a"))
      .join(cells.select(col("__t"), col("__cell"), col("__id").as("id_b")),
        Seq("__t", "__cell"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(base.select(col("__id").as("id_a"), col("__v").as("__va"),
        normMicro8(col("__v")).as("__na")), Seq("id_a"))
      .join(base.select(col("__id").as("id_b"), col("__v").as("__vb"),
        normMicro8(col("__v")).as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__va"), col("__vb")),
          col("__na"), col("__nb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-space drift between two vector snapshots: PSI over the
    * occupancy of a SHARED data-independent quantizer — the monitor
    * that catches a topic/domain shift between two crawls before it
    * skews a training mix, where a numeric-column PSI sees nothing.
    * The quantizer is one table of [[hyperplanes]] sign cells (2^nPlanes
    * cells; deterministic, derived from the tag — both snapshots and
    * the SQL oracle regenerate the identical planes, and no training
    * step could leak one snapshot's structure into the other's cells).
    * Cell occupancy counts then run through the same smoothed
    * micro-unit PSI arithmetic as [[DataQuality.psiDrift]].
    *
    * Output: one row per occupied cell (bin, count_a, count_b,
    * term_micro) + the `psi_micro` total. Scale: one codegen'd cell
    * projection per side (no joins touch vectors), a cell-keyed count,
    * and windows over the ≤ 2^nPlanes-row counts table. */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String, dim: Int,
                     nPlanes: Int = 6,
                     tag: String = "graft-drift"): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 16, s"nPlanes=$nPlanes out of [1,16]")
    GraftFunctions.ensureRegistered(a.sparkSession)
    val planes = hyperplanes(tag, 1, nPlanes, dim).head
    val u = a.select(col(vecCol).as("__v")).withColumn("__side", lit(0))
      .unionAll(b.select(col(vecCol).as("__v")).withColumn("__side", lit(1)))
    val cell = (0 until nPlanes).map { p =>
      when(cosineRaw(col("__v"), typedLit(planes(p).toSeq)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val counts = u.select(cell.as("bin"), col("__side"))
      .groupBy(col("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("count_a"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("count_b"))
    DataQuality.psiTermsFromCounts(counts, 1 << nPlanes)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): group embeddings into cells (a precomputed
    * clustering label — [[trainIvf]]'s assignments, an LSH cell, or any
    * data label), then within each cell DROP every document that has a
    * smaller-id neighbor at cosine ≥ `threshold`. Exactly one
    * representative (the minimum id) of each near-duplicate chain
    * survives, and no vectors are ever compared across cells — the
    * clustering bounds pairwise work to O(Σ|cell|²) instead of O(n²),
    * which is the whole point of the method at 100 TB.
    *
    * Scale: pair generation is [[cosineNearDup]]'s cell-bucketed
    * self-join (one exchange keyed on the cell); the drop-set is
    * distinct ids only (no vectors); the final LEFT ANTI join streams
    * the corpus against the (typically tiny) drop-set — broadcast by
    * AQE when it fits. Deterministic: same ids + vectors in, same
    * survivors out, independent of partitioning. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, threshold: Double): DataFrame = {
    val dropped = cosineNearDup(corpus, idCol, vecCol, cellCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs within the same cell
    * (cell-bucketed to avoid the O(n²) cross join). Exact within a
    * LABELED corpus — for an unlabeled corpus at scale use
    * [[cosineNearDupLsh]], whose cell count grows with the data instead
    * of being fixed by the label domain. */
  def cosineNearDup(corpus: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), normMicro8(col(vecCol)).as("__na"))
    val r = corpus.select(col(cellCol).as("cell"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), normMicro8(col(vecCol)).as("__nb"))
    c.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__va"), col("__vb")),
          col("__na"), col("__nb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Cell-scoped kNN JOIN: top-k cosine neighbors for EVERY corpus
    * vector, neighbors drawn from the vector's own cell — the ANN shape
    * [[knnBruteForce]] cannot take, because there the QUERY SET must
    * broadcast; here the "query set" is the whole corpus. This is the
    * semantic-clustering / near-neighbor-graph pass a training pipeline
    * runs corpus-wide (kNN graphs for dedup clustering, hard-negative
    * mining, diversity scoring).
    *
    * Scale: one exchange keyed on the cell co-partitions both sides; the
    * per-cell self-join bounds the quadratic term at |cell|² (cells come
    * from IVF assignment — [[trainIvf]] — or any label, so |cell| ≈
    * n/nlist and total work ≈ n²/nlist, the standard IVF-join tradeoff);
    * the rank window keys on (cell, qid) so it reuses that same
    * exchange (qid is cell-functional), and `WindowGroupLimit` prunes
    * to k rows per query before any further movement. Recall is cell
    * recall: neighbors outside the query's cell are unseen — raise
    * nlist-side recall upstream by assigning overlapping cells, exactly
    * as [[knnIvf]]'s nprobe does for broadcast queries. */
  def knnJoinWithinCells(corpus: DataFrame, idCol: String, vecCol: String,
                         cellCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val a = corpus.select(col(cellCol).as("cell"), col(idCol).as("qid"),
      col(vecCol).as("__qv"), normMicro8(col(vecCol)).as("__qn"))
    val b = corpus.select(col(cellCol).as("cell"), col(idCol).as("vec_id"),
      col(vecCol).as("__cv"), normMicro8(col(vecCol)).as("__cn"))
    // window keyed (cell, qid), not qid alone: qid is cell-functional, and
    // prefixing the cell lets the window REUSE the join's hash
    // partitioning (HashPartitioning(cell) satisfies the clustered
    // distribution on (cell, qid)) — zero exchanges after the join's two
    val w = Window.partitionBy(col("cell"), col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    a.join(b, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("cell"), col("qid"), col("vec_id"),
        cosineFromMicro(GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")),
          col("__qn"), col("__cn")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "sim")
  }

  /** kNN label-noise audit (the cheap core of Confident Learning,
    * Northcutt et al. 2021): every vector gets a deterministic
    * hyperplane cell (one [[hyperplanes]] table, 2^nPlanes cells), its
    * k nearest SAME-CELL neighbors are ranked exactly, and its
    * disagreement score is the share of those neighbors carrying a
    * DIFFERENT label — a point whose local neighborhood votes against
    * its own label is a mislabel suspect (or sits on a genuine class
    * boundary; both belong in a curation queue). Output: one row per
    * vector (idCol, labelCol, n_neighbors, disagreement), disagreement
    * rounded 6 dp.
    *
    * Scale: the corpus-wide kNN is [[knnJoinWithinCells]] (cell-keyed
    * join + in-partition window — the whole corpus is the query set, so
    * nothing broadcasts); the label join rides the same exchanges.
    * nPlanes sizes the cells: 2^nPlanes should grow with the corpus so
    * per-cell pair counts stay bounded. */
  def knnLabelNoise(corpus: DataFrame, idCol: String, labelCol: String,
                    vecCol: String, dim: Int, k: Int, nPlanes: Int = 3,
                    tag: String = "graft-noise"): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 16, s"nPlanes=$nPlanes out of [1,16]")
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val planes = hyperplanes(tag, 1, nPlanes, dim).head
    val cell = (0 until nPlanes).map { p =>
      when(cosineRaw(col(vecCol), typedLit(planes(p).toSeq)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    // double-widen once (exact for float inputs) so plane and neighbor
    // cosines run on the same type the SQL replay uses (::DOUBLE[])
    val withCell = corpus
      .withColumn(vecCol, col(vecCol).cast("array<double>"))
      .withColumn("__cell", cell)
    val labels = withCell.select(col(idCol), col(labelCol))
    val nn = knnJoinWithinCells(withCell, idCol, vecCol, "__cell", k)
      .join(labels.select(col(idCol).as("qid"), col(labelCol).as("__ql")),
        Seq("qid"))
      .join(labels.select(col(idCol).as("vec_id"), col(labelCol).as("__nl")),
        Seq("vec_id"))
    nn.groupBy(col("qid"), col("__ql"))
      .agg(count(lit(1)).as("n_neighbors"),
        round(sum(when(col("__nl") =!= col("__ql"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("disagreement"))
      .select(col("qid").as(idCol), col("__ql").as(labelCol),
        col("n_neighbors"), col("disagreement"))
  }

  /** Per-label centroids and their pairwise cosine similarity — the
    * "class confusion geometry" report (which label clusters are
    * embedding-space neighbors; the dataset-curation signal for label
    * noise and near-duplicate classes).
    *
    * The centroid aggregation runs per (label, dimension): posexplode
    * amplifies the scan d-fold but partial aggregation collapses it
    * map-side to |labels|·d rows before the one exchange, and the
    * pairwise stage then touches only that tiny centroid table (join on
    * the dimension, labels² pairs — labels are enum-scale by
    * definition). A typed vector-sum Aggregator would avoid the explode
    * at extreme d; at d <= a few thousand the codegen'd posexplode +
    * hash-agg path wins on simplicity and replays in any SQL engine.
    * Norm-0 centroids are guarded (ANSI division) and excluded. */
  def labelCentroidSim(embeddings: DataFrame, labelCol: String,
                       vecCol: String): DataFrame = {
    val cent = embeddings
      .select(col(labelCol).as("__lbl"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__dim", "__v")))
      .groupBy(col("__lbl"), col("__dim"))
      .agg(avg(col("__v")).as("__c"))
    val a = cent.select(col("__lbl").as("label_a"), col("__dim"), col("__c").as("__ca"))
    val b = cent.select(col("__lbl").as("label_b"), col("__dim"), col("__c").as("__cb"))
    a.join(b, Seq("__dim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("__ca") * col("__cb")).as("__dot"),
        sqrt(sum(col("__ca") * col("__ca"))).as("__na"),
        sqrt(sum(col("__cb") * col("__cb"))).as("__nb"))
      .filter(col("__na") =!= 0 && col("__nb") =!= 0)
      .select(col("label_a"), col("label_b"),
        round(col("__dot") / (col("__na") * col("__nb")), 6).as("cosine"))
  }

  /** Exact brute-force top-k by raw DOT PRODUCT (no normalization) —
    * [[knnBruteForce]]'s unnormalized sibling; the ranking differs from
    * cosine exactly where norms differ, which is what makes it a useful
    * second voice in rank fusion. The score is the per-term integer-micro
    * dot (Σ round(aᵢ·bᵢ·1e8) as LONG, the q80 protocol via the codegen'd
    * [[graft.functions.GraftDotMicro8]] kernel): order-free, so ranking
    * can never flip on engine/version fold-order differences — the r13
    * q299 gate-red channel the old 6-dp double fold sat on. `sim` is the
    * micro sum scaled back once at the edge (exact division, 6 dp). */
  def knnBruteForceDot(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__dm").desc, col("vec_id"))
    c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        GraftFunctions.dotMicro8Native(col("__qv"), col("__cv")).as("__dm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("__dm").cast("double") / lit(1e8), 6).as("sim"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of several ranked
    * retrieval lists: fused score = Σ_lists 1/(k0 + rank), the
    * training-free hybrid-search combiner every lexical+vector RAG stack
    * ships (it needs no score calibration across lists — only ranks).
    * Output: per query, the fused top `topK` with the fused rank and
    * score. Items missing from a list simply contribute nothing — RRF's
    * native behavior.
    *
    * Determinism: each contribution quantizes to round(1e6/(k0+rank)) —
    * an integer lookup both engines compute identically — so fused
    * scores are exact integer sums; the final ordering ties on item id.
    *
    * Scale: a union of already-bounded top-k tables (queries × k rows
    * per list), one (query, item) aggregation, one per-query window over
    * ≤ lists·k rows. Nothing corpus-sized. */
  def rrfFusion(rankings: Seq[DataFrame], queryCol: String, itemCol: String,
                rankCol: String, k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFusion: no rankings")
    require(k0 >= 1, s"rrfFusion: k0=$k0 must be >= 1")
    val rows = rankings.map(_.select(col(queryCol).as("__q"),
        col(itemCol).as("__i"), col(rankCol).cast("long").as("__r")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("rrf_micro").desc, col("__i"))
    rows.groupBy(col("__q"), col("__i"))
      .agg(sum(round(lit(1000000.0) / (lit(k0.toLong) + col("__r")), 0)
        .cast("long")).as("rrf_micro"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topK)
      .select(col("__q").as(queryCol), col("fused_rank"),
        col("__i").as(itemCol), col("rrf_micro"))
  }

  /** Per-vector anisotropy audit ("All-but-the-top", Mu & Viswanath
    * 2018): center on the corpus mean, project on the [[pc1PowerIteration]]
    * direction, and report (id, proj, resid_norm) — the decomposition
    * that says how much of each embedding is the common direction
    * (anisotropy) vs actual content. A whitening pass subtracts
    * proj·u; this op is the audit that decides whether to.
    *
    * Determinism: the mean is an exact integer-micro componentwise sum;
    * per-row dot/residual terms quantize to 1e-8 units before their
    * sums (order-free); one sqrt at the edge, 6 dp outputs.
    *
    * Scale: the mean and u are dim-row broadcast tables; the audit is
    * two passes over the exploded (id, j, x) table with map-side
    * combine — corpus-sized work but nothing corpus-sized shuffles
    * beyond the (id)-keyed aggregations. */
  def anisotropyResidual(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, rounds: Int = 3): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"anisotropyResidual: dim=$dim out of [1, 4096]")
    // ONE cached explode serves both the power-iteration rounds and the
    // mean/projection/residual audit passes
    val xj = explodedVectors(emb, idCol, vecCol, dim)
    val u = pc1Core(emb.sparkSession, xj, dim, rounds)._1
      .select(col("idx"), col("__v").as("loading"))
    val mean = xj.groupBy(col("__j"))
      .agg(sum(round(col("__xv") * 1e6, 0).cast("long")).as("__sm"),
        count(lit(1)).as("__n"))
      .select(col("__j"), (col("__sm").cast("double") / col("__n") / 1e6).as("__mu"))
    val centered = xj.join(broadcast(mean), Seq("__j"))
      .join(broadcast(u), col("__j") === col("idx"))
      .select(col("__id"), col("__j"), (col("__xv") - col("__mu")).as("__xc"),
        col("loading").as("__u"))
    val proj = centered.groupBy(col("__id"))
      .agg((sum(round(col("__xc") * col("__u") * 1e8, 0).cast("long"))
        .cast("double") / 1e8).as("__p"))
    centered.join(proj, Seq("__id"))
      .select(col("__id"),
        col("__p"),
        (col("__xc") - col("__p") * col("__u")).as("__r"))
      .groupBy(col("__id"), col("__p"))
      .agg(sum(round(col("__r") * col("__r") * 1e8, 0).cast("long")).as("__rs"))
      .select(col("__id").as(idCol),
        round(col("__p"), 6).as("proj"),
        round(sqrt(col("__rs").cast("double") / 1e8), 6).as("resid_norm"))
  }

  /** Leading principal direction of the (uncentered) embedding matrix by
    * `rounds` power-iteration steps v ← Xᵀ(Xv)/‖Xᵀ(Xv)‖ from the fixed
    * seed e₁ — the PCA primitive behind embedding whitening, anisotropy
    * audits ("is the index collapsing to one direction?"), and drift
    * checks on the dominant axis. Fully dataflow: v is a dim-row table
    * that broadcasts; NOTHING is collected — unlike an MLlib SVD, this
    * runs as plain joins/aggregations and replays in any SQL engine.
    * Output: (idx, loading, op_norm) with op_norm = ‖Xᵀ X v‖ of the last
    * step (the operator-norm/eigenvalue estimate, since ‖v‖ = 1).
    *
    * Determinism protocol: each x·v term quantizes to 1e-8 units and
    * each sᵢ·xᵢⱼ term to 1e-6 units BEFORE their cross-row integer sums
    * (order-free by construction); the norm is one sqrt of an exact
    * decimal sum of squares; v re-quantizes to 9 dp per round. Signs
    * follow the e₁ seed, so the direction is reproducible, not just the
    * axis. Rounding half-up matches both engines for negative terms
    * (away-from-zero at .5 — the t_micro precedent).
    *
    * Scale: per round, two scans of the cached embedding table (score
    * pass, accumulate pass) with map-side-combined aggregations; state
    * between rounds is dim rows. rounds·2 passes total — at 100 TB this
    * is the streaming-friendly form (no Gram matrix, no dim² shuffle). */
  def pc1PowerIteration(emb: DataFrame, idCol: String, vecCol: String,
                        dim: Int, rounds: Int = 3): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"pc1PowerIteration: dim=$dim out of [1, 4096]")
    require(rounds >= 1 && rounds <= 10, s"pc1PowerIteration: rounds=$rounds out of [1, 10]")
    val xj = explodedVectors(emb, idCol, vecCol, dim)
    val (v, lastNorm) = pc1Core(emb.sparkSession, xj, dim, rounds)
    v.crossJoin(broadcast(lastNorm))
      .select(col("idx"), col("__v").as("loading"),
        round(sqrt(col("__n2").cast("double")) / 1e6, 6).as("op_norm"))
  }

  /** Cached (id, j, x_j) exploded view of the embedding table — shared
    * by the power-iteration loop and any audit passes over the same
    * coordinates, so composite queries (q306) explode and cache ONCE. */
  private def explodedVectors(emb: DataFrame, idCol: String, vecCol: String,
                              dim: Int): DataFrame = {
    val xj = emb
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__x"))
      .filter(size(col("__x")) === dim)
      .select(col("__id"), posexplode(col("__x")).as(Seq("__j", "__xv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => xj.unpersist())
    xj
  }

  /** The v ← Xᵀ(Xv)/‖·‖ loop over a cached exploded table; returns the
    * final (idx, __v) direction and the 1-row (__n2) norm table.
    *
    * Each round's dim-row accumulate table `u` is eagerly
    * localCheckpoint'ed (lineage leaf — optimization-guide §3.3/§7.3):
    * `u` is referenced twice (the norm probe and the value branch) and
    * each next round's score pass references v again, so without a
    * materialization boundary the corpus-sized (s, u) aggregations nest
    * one level deeper per round and every reference re-plans (and,
    * where exchange reuse misses, re-runs) the whole chain beneath it —
    * the r16 baseline measured q294 at 4.4 s / q306 at 5.9 s for
    * 3 rounds over a 134 MB cache. As leaves, each round is exactly two
    * corpus passes over the cached explode and the plan stays
    * round-local. The leaf is dim rows (≤ 4096) — trivially small. */
  private def pc1Core(spark: org.apache.spark.sql.SparkSession, xj: DataFrame,
                      dim: Int, rounds: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    var v = (0 until dim).map(j => (j.toLong, if (j == 0) 1.0 else 0.0))
      .toDF("idx", "__v")
    var lastNorm: DataFrame = null
    val leaves = graft.util.Truncate.leaves()
    for (_ <- 1 to rounds) {
      val s = xj.join(broadcast(v), col("__j") === col("idx"))
        .groupBy(col("__id"))
        .agg(sum(round(col("__xv") * col("__v") * 1e8, 0).cast("long")).as("__s"))
      // checkpoint storage strategy-selected (graft.util.Truncate, r17):
      // local blocks in local mode, reliable on a cluster — an
      // unreplicated local checkpoint chain dies with its executor.
      val u = leaves.keep(graft.util.Truncate(xj.join(s, Seq("__id"))
        .groupBy(col("__j"))
        .agg(sum(round((col("__s") / 1e8) * col("__xv") * 1e6, 0).cast("long"))
          .as("__u"))))
      val n2 = u.agg(sum(col("__u").cast("decimal(28,0)") * col("__u")).as("__n2"))
      lastNorm = n2
      v = u.crossJoin(broadcast(n2))
        .select(col("__j").as("idx"),
          round(col("__u").cast("double") / sqrt(col("__n2").cast("double")), 9)
            .as("__v"))
    }
    (v, lastNorm)
  }
}

