package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge lists. The representation is the
  * lake-native one — a DataFrame of (src, dst) rows — not an in-memory
  * adjacency structure: every step is a join/aggregation Catalyst can
  * plan, so the same code runs at 100 TB edge scale where a
  * driver-resident graph cannot exist.
  */
object Graph {

  /** Eagerly checkpoint a node-sized iteration state, truncating its
    * lineage to a leaf (optimization-guide §3.3/§7.3: materialize an
    * intermediate to cut the plan). Persisted-but-unckeckpointed iteration
    * state keeps the FULL logical subtree alive under every cache
    * reference — the r16 baseline measured q330's final plan at 689
    * Exchange nodes / 4082 explain lines for 2 HITS iterations and q337's
    * at 775/6117, and AQE re-optimizes that whole tree after every query
    * stage, so planning dominated execution. With per-iteration leaves the
    * plan stays constant-size in the iteration count. Execution work is
    * unchanged — the same state was materialized into the cache before;
    * it now materializes into checkpoint storage instead.
    *
    * Checkpoint STORAGE is strategy-selected by [[graft.util.Truncate]]
    * (r17): executor-local in local mode, reliable (durable-storage)
    * checkpoint on a real cluster, where an unreplicated local checkpoint
    * would make one executor loss fail the whole iterative query. */
  private def truncate(df: DataFrame): DataFrame = graft.util.Truncate(df)

  /** The NODE-SIZED side of each per-round join AGAINST THE CACHED EDGE
    * TABLE, hinted to a SHUFFLED HASH join (guide §3.1: pick the
    * strategy deliberately). Unhinted, the planner falls back to
    * sort-merge for these joins (the rank/label leaf's size is unknown
    * pre-execution), which re-SORTS the cached edge table's partitions
    * every single round — measured 17% of q125-shape iteration wall at
    * sf0.1, and at 100 TB a per-round sort of the edge side, the exact
    * cost the once-shuffled topology cache exists to avoid.
    * Shuffled-hash instead streams the (already partitioned) edge cache
    * and builds the per-partition hash on the node-sized side —
    * |V|/numPartitions rows, the standard fit. Broadcast would be
    * marginally faster at sf0.1 but cannot hold a 100 TB graph's node
    * table; shuffled-hash wins at both scales (probe: base 2.14 s /
    * shuffle_hash 1.78 s / broadcast 2.08 s for 3 iterations, identical
    * checksums).
    *
    * Deliberately NOT applied to the node⋈node joins (nodes⋈inbound,
    * diff probes, normalization): both sides there are node-sized, AQE
    * broadcast-converts the smaller at runtime, and a same-JVM
    * interleaved A/B of hinting them too came out slower on several
    * queries — the hint would also deny AQE the choice at scale for no
    * sort saving (neither side is the edge cache). Final interleaved
    * A/B over the 12 declared graph queries (7 reps, variants
    * alternated per rep): total ratio 0.98, q319 0.91 / q320 0.90 /
    * q330 0.93, worst q328 1.05. */
  private def nodeSide(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** Distinct long (src, dst) edges — the input shape of the loops. */
  private def longEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()

  /** Node universe of a (src, dst) table — read back from the cached edge
    * table, not from the uncached upstream subtree. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** The out-degree topology: `e` shuffled ONCE onto src with its per-src
    * out-weight `outW` (a count, or a weight sum) as column `name`, a
    * window over the repartition's own exchange: HashPartitioning(src)
    * satisfies the window's ClusteredDistribution, so the edge subtree
    * (often an expensive join/distinct upstream) is scanned exactly ONCE
    * into the cache — no groupBy+self-join, no second exchange. */
  private def outDegree(e: DataFrame, name: String = "__outdeg",
                        outW: Column = count(lit(1))): DataFrame =
    e.repartition(col("src"))
      .withColumn(name, outW.over(org.apache.spark.sql.expressions.Window.partitionBy("src")))

  private def requireDamping(iterations: Int, dampNumer: Int, dampDenom: Int): Unit = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(dampNumer > 0 && dampNumer < dampDenom,
      s"damping $dampNumer/$dampDenom must lie in (0, 1)")
  }

  /** `rounds` applications of `round` to `init`. Intermediate states are
    * CHECKPOINTED (lineage leaf, r16 — see [[truncate]]), each superseded
    * leaf freed as soon as its successor is materialized; the final round
    * stays lazy so the returned plan still carries the cached-topology
    * markers (one cache read per reference) and the caller's action
    * drives it. The `caches` (plain caches, safe to recompute if drained
    * early) and the surviving leaf are freed once the harness has
    * consumed the result (QueryCleanup ordering contract). */
  private def iterate(init: DataFrame, rounds: Int, caches: DataFrame*)(
      round: DataFrame => DataFrame): DataFrame = {
    val leaves = graft.util.Truncate.leaves(caches: _*)
    (1 to rounds).foldLeft(init) { (state, i) =>
      val next = round(state)
      if (i < rounds) leaves.supersede(truncate(next)) else next
    }
  }

  /** The PageRank family's one walk over a cached [[outDegree]] topology
    * (columns src, dst and whatever `contrib` reads) and its persisted
    * node table, in micro-rank fixed point:
    *
    *   rank₀(v) = mass(initMicro)(v)
    *   rank'(v) = mass(teleportMicro)(v) + d · Σ_{u→v} contrib(u→v)
    *
    * `contrib` is the SQL share of rank(u) an edge carries; `mass` places
    * a total (the initial rank, then the (1-d) teleport) on the nodes —
    * uniform, on a seed set, or by seed weight. Each round moves only the
    * node-sized rank table: one shuffle of it to the edge partitioning,
    * one map-side-combined sum onto dst, one node left join — the edge
    * table, which is the 100 TB side, never moves again. */
  private final case class RankWalk(topo: DataFrame, nodes: DataFrame, contrib: String,
                                    mass: Long => Column, dampNumer: Int,
                                    dampDenom: Int, initMicro: Long) {
    def init: DataFrame = nodes.select(col("node"), mass(initMicro).as("rank"))

    def round(ranks: DataFrame): DataFrame = {
      val inbound = topo
        .join(nodeSide(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), expr(contrib).as("__contrib"))
        .groupBy("node")
        .agg(sum("__contrib").as("__in"))
      nodes
        .join(inbound, Seq("node"), "left")
        .select(col("node"),
          (mass(initMicro * (dampDenom - dampNumer) / dampDenom) +
            expr(s"($dampNumer * coalesce(__in, 0L)) div $dampDenom")).as("rank"))
    }

    def run(iterations: Int): DataFrame = iterate(init, iterations, topo, nodes)(round)
  }

  /** PageRank in FIXED-POINT integer arithmetic (micro-rank units), so
    * the result is bit-identical on every engine: long addition commutes
    * exactly (no float summation-order drift — the q80 lesson) and
    * integral division (`div`) replays as `//` in an external SQL
    * engine's unrolled-iteration CTEs. Classic damped update (Page et
    * al. 1999), un-normalized form on micro-units:
    *
    *   rank'(v) = (1-d)·1e6 + d · Σ_{u→v} rank(u) div outdeg(u)
    *
    * with d = dampNumer/dampDenom applied as integer multiply-then-div.
    * Nodes with no in-edges keep the teleport term (left join + coalesce
    * 0). Dangling mass (nodes with no OUT-edges) is dropped, the common
    * simplification; symmetrize the edge list if conservation matters.
    *
    * Scale: the edge list (with its precomputed out-degree) is shuffled
    * ONCE onto src and persisted ([[outDegree]]); each iteration moves
    * only the node-sized rank table ([[RankWalk]]), and intermediate
    * iterations truncate to lineage leaves ([[iterate]]).
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iterations: Int = 3,
                         dampNumer: Int = 850, dampDenom: Int = 1000,
                         initMicro: Long = 1000000L): DataFrame = {
    requireDamping(iterations, dampNumer, dampDenom)
    val topo = outDegree(longEdges(edges, srcCol, dstCol)).persist(StorageLevel.MEMORY_AND_DISK)
    RankWalk(topo, nodesOf(topo).persist(StorageLevel.MEMORY_AND_DISK), "rank div __outdeg",
      lit(_), dampNumer, dampDenom, initMicro).run(iterations)
  }

  /** PERSONALIZED PageRank (Haveliwala 2002 topic-sensitive form) on the
    * same un-normalized micro-unit fixed-point as [[pageRankFixedPoint]],
    * but with the teleport mass restricted to a SEED set:
    *
    *   rank'(v) = (1-d)·1e6·[v ∈ seeds] + d · Σ_{u→v} rank(u) div outdeg(u)
    *
    * starting from rank₀(v) = 1e6·[v ∈ seeds]. Mass diffuses outward from
    * the seeds only, so the score ranks nodes by proximity/connectivity
    * TO the seed set — the "related entities" primitive behind
    * recommendation seeds, fraud-ring expansion, and local community
    * scoring, where global PageRank would just re-find the hubs.
    *
    * Determinism: identical integer protocol to [[pageRankFixedPoint]]
    * (micro units, integer multiply-then-div damping) — exact on any
    * engine, unrolled by the oracle round for round.
    *
    * Scale: same topology — the out-degree-annotated edge list shuffles
    * once and persists; each round moves only the node-sized rank table.
    * The seed flag is a node-keyed left join computed once (seeds may be
    * corpus-sized; nothing broadcasts by hint). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int = 3,
                           dampNumer: Int = 850, dampDenom: Int = 1000,
                           initMicro: Long = 1000000L): DataFrame = {
    requireDamping(iterations, dampNumer, dampDenom)
    val topo = outDegree(longEdges(edges, srcCol, dstCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val seedFlag = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("__seed", lit(1L))
    val nodes = nodesOf(topo)
      .join(seedFlag, Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("__seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    RankWalk(topo, nodes, "rank div __outdeg", col("__seed") * _,
      dampNumer, dampDenom, initMicro).run(iterations)
  }

  /** Deterministic out-degree capping — the skew bound the PageRank
    * family needs at web scale, where a handful of hub nodes carry
    * millions of out-edges and their partitions dominate every
    * iteration's shuffle. Each node keeps at most `cap` out-edges,
    * chosen by PORTABLE hash rank over (salt, src, dst) with dst as the
    * tiebreak — the same md5 protocol as [[graft.ops.Sampling]], so the
    * kept edge set is a pure function of the edge list (independent of
    * partitioning, replayable row-for-row by an external engine).
    * PageRank over the capped graph is the standard approximation:
    * hubs' influence flattens (each survivor edge carries rank div
    * min(outdeg, cap)), low-degree structure is untouched — nodes with
    * outdeg ≤ cap keep every edge.
    *
    * Scale: ONE hash shuffle on src for the rank window; the capped
    * output is at most |V|·cap rows regardless of skew, which is the
    * point — the downstream per-iteration shuffle is bounded by cap,
    * not by the heaviest hub. */
  def degreeCapEdges(edges: DataFrame, srcCol: String, dstCol: String,
                     cap: Int, salt: String = "graft-degcap"): DataFrame = {
    require(cap >= 1, s"degreeCapEdges: cap=$cap must be >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val h = graft.functions.PortableHash.phash(
      concat_ws("|", lit(salt), col("src"), col("dst")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("__h"), col("dst"))
    e.withColumn("__h", h)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .select("src", "dst")
  }

  /** [[pageRankFixedPoint]] over the [[degreeCapEdges]]-capped graph —
    * approximate PageRank whose per-iteration cost is bounded by
    * `cap`·|V| edges no matter how skewed the original degree
    * distribution is. Same exact integer-micro protocol (the capped
    * edge set is deterministic, so the whole composition stays
    * oracle-replayable). */
  def pageRankDegreeCapped(edges: DataFrame, srcCol: String, dstCol: String,
                           cap: Int, iterations: Int = 3,
                           dampNumer: Int = 850, dampDenom: Int = 1000,
                           initMicro: Long = 1000000L,
                           salt: String = "graft-degcap"): DataFrame =
    pageRankFixedPoint(degreeCapEdges(edges, srcCol, dstCol, cap, salt),
      "src", "dst", iterations, dampNumer, dampDenom, initMicro)

  /** EDGE-weighted PageRank: [[pageRankFixedPoint]] where each out-edge
    * carries an integer weight (trade volume, link multiplicity, trust
    * score) and a node's rank splits over its out-edges PROPORTIONALLY
    * by integral division,
    *
    *   contrib(u→v) = (rank(u) · w_{u→v}) div Σ_out w(u)
    *
    * — the natural completion of the family once graphs stop being
    * unweighted adjacency ("supplier A trades with B weekly and with C
    * once" should not rank B and C alike). Parallel edges merge by
    * weight SUM before anything else, so the input may be a raw
    * multi-edge log. Unit weights reduce to [[pageRankFixedPoint]]
    * bit-for-bit. Weights validated ≤ 1e6 so rank·w stays inside a
    * long on any engine (rank is micro-unit, total mass ≤ |V|·1e6).
    *
    * Scale: identical topology — the weight-annotated edge list
    * shuffles once onto src (its out-weight riding the same window)
    * and persists; each iteration moves only the node-sized rank
    * table. */
  def pageRankEdgeWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: String, iterations: Int = 3,
                           dampNumer: Int = 850, dampDenom: Int = 1000,
                           initMicro: Long = 1000000L): DataFrame = {
    requireDamping(iterations, dampNumer, dampDenom)
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("__w") > 0)
      .groupBy("src", "dst").agg(sum(col("__w")).as("__w"))
      .withColumn("__w",
        when(col("__w") > 1000000L,
          raise_error(lit("pageRankEdgeWeighted: merged edge weight > 1e6")))
          .otherwise(col("__w")))
    val topo = outDegree(e, "__wout", sum(col("__w"))).persist(StorageLevel.MEMORY_AND_DISK)
    RankWalk(topo, nodesOf(topo).persist(StorageLevel.MEMORY_AND_DISK),
      "(rank * __w) div __wout", lit(_), dampNumer, dampDenom, initMicro).run(iterations)
  }

  /** Fidelity audit of a rank APPROXIMATION against its exact
    * counterpart — built for [[pageRankDegreeCapped]] vs
    * [[pageRankFixedPoint]] but generic over any two (node, score)
    * tables: both sides rank by (score desc, node), and the audit
    * reports top-k overlap plus the Spearman-footrule displacement
    * Σ|rank_exact − rank_approx| — the number that says what the skew
    * bound actually cost before anyone ships the cheaper variant. One
    * row: n_nodes (shared), topk_overlap, footrule_sum,
    * mean_displacement (6 dp). Integer-exact except the one division.
    *
    * Scores must be INTEGRAL (the engine's micro-unit long protocol —
    * every rank producer here emits those); a fractional score column
    * is rejected rather than silently truncated, because truncation
    * can reorder or tie rows and skew the audit. Quantize upstream
    * (micro-round) if the protocol isn't already integer.
    *
    * Scale: rank strategy is SIZE-AWARE, decided per side on the
    * persisted score table's count (a cached scalar): at or under
    * `smallRankThreshold` rows (default 2e6 ≈ 32 MB of skinny rows) a
    * single window sorts it in one task — cheaper than scheduling the
    * bucketed scheme's extra stages; above it, the rank-offset scheme
    * ([[Ranking.globalRowNumber]]) takes over — in-bucket ranks over a
    * 1024-way monotone score bucketing (bounds from a 1-row probe), a
    * bucket-count-sized offset prefix sum (the only serial step),
    * broadcast back. Either way no UNBOUNDED single-partition sort
    * exists (the window path is entered only under the threshold
    * contract); the final audit is one scalar aggregate over the node
    * join. */
  def rankFidelityAudit(exact: DataFrame, approx: DataFrame,
                        nodeCol: String, scoreCol: String,
                        k: Int = 100,
                        smallRankThreshold: Long = 2000000L): DataFrame = {
    require(k >= 1, s"rankFidelityAudit: k=$k must be >= 1")
    def ranked(df: DataFrame, rankName: String): DataFrame = {
      val ok = df.schema(scoreCol).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      require(ok, s"rankFidelityAudit: score column '$scoreCol' is " +
        s"${df.schema(scoreCol).dataType.simpleString} — scores must be " +
        "integral (micro-unit longs); quantize upstream")
      // descending score = ascending negated score; (score, node) is a
      // total order so ranks are deterministic. CHECKPOINT the
      // node-sized score table (lineage leaf, r16 — see [[truncate]]):
      // the bounds probe, the bucketed rank branch and the offsets
      // branch all reference it, and without materialization each
      // reference re-runs the full upstream chain (for PageRank-class
      // inputs that was a 2x end-to-end recompute per side — measured
      // 9.1 -> 16.4 s on q328 when this landed uncached). The r15 form
      // persisted + count()ed — same materialization cost — but every
      // reference then inlined the producer's full logical subtree
      // (q336's final plan was a 26 MB explain string over two HITS
      // chains); as a leaf the audit's plan is audit-sized.
      val s = truncate(df.select(col(nodeCol).cast("long").as("node"),
        (-col(scoreCol).cast("long")).as("__negs")))
      graft.QueryCleanup.register(() => graft.util.Truncate.release(s))
      // Size-aware rank strategy (the engine's CBO move, decided on the
      // CACHED table so the count is a cheap scalar): a (node, score)
      // table at or under the threshold is ~32 MB of skinny rows — one
      // window task sorts it faster than the bucketed scheme's ~10
      // extra stages can even schedule (measured: the all-bucketed form
      // cost q328 +6 s at 16k nodes). Past the threshold — the 1e9-node
      // regime the audit exists for — the rank-offset scheme takes
      // over: in-bucket windows over a 1024-way monotone score
      // bucketing, a bucket-count-sized offset prefix sum, broadcast
      // back; no data-sized single-partition sort.
      if (s.count() <= smallRankThreshold) {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("__negs"), col("node"))
        s.withColumn(rankName, row_number().over(w).cast("long"))
          .select(col("node"), col(rankName))
      } else {
        // the score's buckets are a monotone coarse prefix of the
        // (__negs, node) order — the globalRowNumber contract
        val (withB, bucket) = Ranking.valueBuckets(s, "__negs")
        Ranking.globalRowNumber(withB, Seq("__negs", "node"), bucket, rankName)
          .select(col("node"), col(rankName).cast("long").as(rankName))
      }
    }
    // The two sides are INDEPENDENT rank chains over (usually) the same
    // cached topology, and each side's truncate + count is an eager
    // driver-blocking action — overlap them (guide §2.6 / the q46
    // concurrent-build precedent) so the audit pays max(side), not
    // sum(sides). Results are integer-exact either way.
    val (re, ra) = graft.util.Concurrent.both(
      ranked(exact, "__re"), ranked(approx, "__ra"))
    val joined = re.join(ra, Seq("node"))
    joined.agg(
        count(lit(1)).as("n_nodes"),
        sum(when(col("__re") <= k && col("__ra") <= k, 1L).otherwise(0L))
          .as("topk_overlap"),
        sum(abs(col("__re") - col("__ra"))).as("footrule_sum"))
      .select(col("n_nodes"), col("topk_overlap"), col("footrule_sum"),
        when(col("n_nodes") > 0,
          round(col("footrule_sum").cast("double")
            / col("n_nodes").cast("double"), 6)).as("mean_displacement"))
  }

  /** WEIGHTED personalized PageRank: [[personalizedPageRank]] with the
    * teleport mass distributed over the seed set PROPORTIONALLY to a
    * per-seed weight instead of uniformly — "related to these seeds,
    * but seed A matters 3× seed B" (session-weighted recommendations,
    * confidence-weighted fraud seeds). Integer protocol: weights
    * normalize against the MAXIMUM seed weight with integral division,
    *
    *   rank₀(v)     = (1e6 · w_v) div w_max
    *   teleport(v)  = (((1-d)·1e6) · w_v) div w_max
    *
    * so the heaviest seed gets exactly the unweighted q317 mass and
    * equal weights reduce to [[personalizedPageRank]] bit-for-bit. All
    * arithmetic stays in longs (weights are validated ≤ 1e9, so
    * 1e6·w ≤ 1e15 — no overflow on any engine).
    *
    * Scale: identical topology to [[pageRankFixedPoint]] — the
    * out-degree-annotated edge list shuffles once and persists; each
    * round moves only the node-sized rank table. The weight max is one
    * scalar aggregate over the seed table, broadcast as a literal-sized
    * 1-row frame. */
  def personalizedPageRankWeighted(edges: DataFrame, srcCol: String,
                                   dstCol: String, seeds: DataFrame,
                                   seedCol: String, weightCol: String,
                                   iterations: Int = 3,
                                   dampNumer: Int = 850, dampDenom: Int = 1000,
                                   initMicro: Long = 1000000L): DataFrame = {
    requireDamping(iterations, dampNumer, dampDenom)
    val topo = outDegree(longEdges(edges, srcCol, dstCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val sw = seeds.select(col(seedCol).cast("long").as("node"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__w") > 0)
      .groupBy("node").agg(max(col("__w")).as("__w"))
    // max-normalization rides ONE unpartitioned window over the SEED
    // table (the q185 counts-table idiom): seeds are a curated set by
    // this variant's contract — weighting only makes sense for a seed
    // list someone authored — so the single-partition pass is bounded.
    // (A 1-row crossJoin/constant-key join plans as BNLJ — the shape
    // the repo's no-quadratic plan pin refuses.) For corpus-sized
    // uniform seed sets use [[personalizedPageRank]].
    val seedFlag = sw.withColumn("__wmax",
      max(col("__w")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      // validated here rather than silently truncated: a weight that
      // would overflow 1e6·w in a long is a caller bug on any engine
      .withColumn("__w",
        when(col("__w") > 1000000000L,
          raise_error(lit("personalizedPageRankWeighted: weight > 1e9")))
          .otherwise(col("__w")))
    val nodes = nodesOf(topo)
      .join(seedFlag, Seq("node"), "left")
      .select(col("node"), coalesce(col("__w"), lit(0L)).as("__w"),
        coalesce(col("__wmax"), lit(1L)).as("__wmax"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    RankWalk(topo, nodes, "rank div __outdeg", m => expr(s"($m * __w) div __wmax"),
      dampNumer, dampDenom, initMicro).run(iterations)
  }

  /** Per-node NEIGHBORHOOD features — the tabular feature block a
    * graph-ML training pipeline materializes before any model sees the
    * graph: out-degree, sum of out-neighbor out-degrees (the 2-hop mass
    * proxy), and the count of distinct nodes at EXACTLY two hops
    * (reachable via an out-neighbor, not an out-neighbor itself, not
    * self). The input is taken as the DIRECTED adjacency exactly as
    * given (deduped, self-loops dropped) — symmetrize BEFORE calling
    * for undirected semantics. All integer counts — deterministic,
    * replayable by joins.
    *
    * Scale: the 2-hop stage is a wedge join — output-quadratic in
    * degree on hubs, THE reason to compose with [[degreeCapEdges]]
    * first. Directedness is what makes the cap bound real: each wedge
    * u→v→w spends one of v's ≤ cap out-edges, so wedges ≤ cap·|E| ≤
    * |V|·cap². (Re-symmetrizing AFTER capping would re-inflate hubs
    * through their in-edges and void the bound — this op deliberately
    * does not do that.) The degree table is node-sized; everything
    * joins on node keys. */
  def neighborhoodFeatures(edges: DataFrame, srcCol: String,
                           dstCol: String): DataFrame = {
    val dir = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst") &&
        col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => { dir.unpersist(); () })
    val deg = dir.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val sumNbr = dir
      .join(deg.select(col("node").as("dst"), col("degree").as("__nd")), Seq("dst"))
      .groupBy(col("src").as("node"))
      .agg(sum(col("__nd")).as("sum_nbr_degree"))
    val twoHopAll = dir.select(col("src").as("u"), col("dst").as("v"))
      .join(dir.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
      .filter(col("w") =!= col("u"))
      .select("u", "w").distinct()
    val twoHopOnly = twoHopAll
      .join(dir.select(col("src").as("u"), col("dst").as("w")),
        Seq("u", "w"), "left_anti")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("n_2hop"))
    deg
      .join(sumNbr, Seq("node"))
      .join(twoHopOnly, Seq("node"), "left")
      .select(col("node"), col("degree"), col("sum_nbr_degree"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for `rounds`
    * fixed iterations with a DETERMINISTIC tie rule: every node adopts
    * the most frequent label among its neighbors, ties broken by the
    * smallest label — the cheap community detector between
    * [[graft.ops.Dedup]]'s connected components (pure reachability) and
    * modularity methods (not shuffle-friendly). Fixed rounds + total
    * tie order make the result a pure function of the edge set, so an
    * external engine replays it round for round (async/randomized LPA,
    * the common form, is irreproducible by construction — rejected
    * here for the same reason RNG sampling is).
    *
    * Scale: per round, ONE hash join of the label table onto edges
    * (keyed on the neighbor id) + one (node, label) map-side-combined
    * count + one node-keyed window pick — all data-sized exchanges on
    * uniform keys, no broadcast of anything node-sized. The edge list
    * and node universe cache once across rounds ([[pageRankFixedPoint]]
    * topology). Hot nodes skew the count exchange exactly as any
    * group-by does — AQE's skew split applies, no custom salting needed
    * because the count state per (node, label) is one long. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    // the edge table is joined on dst EVERY round — shuffle it onto dst
    // once and let the cached partitioning serve all rounds (only the
    // node-sized label table moves per round); same play as bfsHops'
    // src-partitioned edges
    val e = longEdges(edges, srcCol, dstCol)
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).persist(StorageLevel.MEMORY_AND_DISK)
    iterate(nodes.select(col("node"), col("node").as("label")), rounds, e, nodes) { labels =>
      // "most frequent label, min-label ties" as max(struct(count,
      // -label)) — a second hash aggregation instead of a node-keyed
      // SORT window (same semantics, no sort; the r13 bench measured the
      // window variant 1.5× slower over 3 rounds)
      val picked = e
        .join(nodeSide(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__best"))
        .select(col("node"), (-col("__best.__nl")).as("label"))
      // isolated nodes (none in a symmetrized edge list, but the
      // contract shouldn't depend on that) keep their own label
      nodes.join(picked, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label"))
    }
  }

  /** Per-node triangle counts by degree-ordered orientation (the MapReduce
    * scheme of Suri & Vassilvitskii 2011, "Counting triangles and the
    * curse of the last reducer"). Each undirected edge is oriented from
    * its lower-(degree, id) endpoint to the higher, which caps every
    * node's out-degree at O(sqrt(m)): wedges are enumerated only at each
    * edge's LOW-rank endpoint, so a celebrity node with degree 1e6
    * generates no wedge explosion — its edges all point INTO it. Every
    * triangle is counted exactly once (from its unique lowest-rank
    * corner), then credited to all three corners.
    *
    * Exact and deterministic: set semantics on canonical edges, integer
    * counts, and a total (degree, id) orientation order — an external
    * SQL engine replays the same joins row-for-row.
    *
    * Scale: the oriented edge list is cached once (one exchange behind
    * the degree window, same topology as [[pageRankFixedPoint]]); the
    * wedge self-join and the closing join both key on it. Wedge volume
    * is Σ outdeg² ≤ m·sqrt(m) — the orientation is precisely what makes
    * that bound hold under power-law skew. The closing join carries only
    * (corner, x, y) id triples, never payloads.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Canonical edges are read three times (two degree-union sides, one
    // orientation probe) — cached so the upstream subtree runs once.
    // Orientation picks (min-rank -> max-rank) under the total order
    // (degree, id).
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val o = e
      .join(deg.withColumnsRenamed(Map("v" -> "a", "d" -> "da")), "a")
      .join(deg.withColumnsRenamed(Map("v" -> "b", "d" -> "db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("w"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("db"))
          .otherwise(col("da")).as("dw"))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Wedges at the low corner, rank-ordered so the closing edge is
    // exactly the oriented (x, y); triangles credit all three corners.
    val wedges = o.select(col("u"), col("w").as("x"), col("dw").as("dx"))
      .join(o.select(col("u"), col("w").as("y"), col("dw").as("dy")), "u")
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
    val tris = wedges
      .join(o.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tris.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    graft.QueryCleanup.register(() => { o.unpersist(); e.unpersist() })
    perNode
  }

  /** Local clustering coefficient per node, in exact parts-per-billion:
    * coeff_ppb = 2·triangles·1e9 div (d·(d−1)) for every node of degree
    * ≥ 2 (degree-1 nodes have no possible wedge and are excluded rather
    * than reported as 0/0). Integer arithmetic end-to-end — the same
    * engine-exactness contract as [[triangleCounts]], which this calls
    * on the ALREADY-CANONICAL cached edge set so the expensive upstream
    * subtree (typically a join+distinct) is materialized once; the
    * inner re-canonicalization is a pass over that cache.
    */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val e = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(e, "a", "b")
    graft.QueryCleanup.register(() => e.unpersist())
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("2 * coalesce(n_triangles, 0L) * 1000000000L div (degree * (degree - 1))")
          .as("coeff_ppb"))
  }

  /** Multi-source BFS hop distances: the minimum number of directed
    * edges from any seed to each reachable node, up to `maxHops` levels
    * — the reachability/blast-radius primitive (who is within k trades
    * of this supplier, which docs cite this doc within k steps).
    *
    * Level-synchronous frontier expansion: each level is one
    * frontier⋈edges join plus an anti-join against the visited set —
    * pure set semantics, exact integer hops, deterministic everywhere.
    * The level count is bounded and small, so driver control flow is
    * one `isEmpty` probe per level (no data ever collects); each
    * frontier persists to keep lineage shallow, the edge table shuffles
    * once onto src and never moves again.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String,
              maxHops: Int = 6): DataFrame = {
    require(maxHops >= 0 && maxHops <= 32,
      s"bfsHops: maxHops=$maxHops out of [0, 32]")
    val e = longEdges(edges, srcCol, dstCol)
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each frontier level is CHECKPOINTED (lineage leaf, r16 — see
    // [[truncate]]): the next level's anti-join references the growing
    // visited union and the expansion join references the frontier, so
    // under plain persist() level L's plan inlined every earlier level's
    // construction subtree (O(levels^2) plan growth). The isEmpty probe
    // already materialized each level; as leaves the final plan is a
    // union of leaf scans. All levels stay referenced by the output, so
    // leaves release only at cleanup.
    val leaves = graft.util.Truncate.leaves(e)
    var frontier = leaves.keep(truncate(
      seeds.select(col(seedCol).cast("long").as("node")).distinct()))
    var visited = frontier.withColumn("hops", lit(0L))
    var level = 0L
    var done = frontier.isEmpty
    while (!done && level < maxHops) {
      level += 1
      val hop = level
      val next = leaves.keep(truncate(nodeSide(frontier
        .withColumnRenamed("node", "src"))
        .join(e, "src")
        .select(col("dst").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")))
      done = next.isEmpty
      if (!done) {
        visited = visited.unionByName(next.withColumn("hops", lit(hop)))
        frontier = next
      }
    }
    visited
  }

  /** k-core of an undirected graph (Seidman 1983): iteratively peel
    * every node of degree < k until the remainder is stable — the
    * maximal subgraph where every node keeps >= k neighbors. The
    * standard structural filter before community/influence analytics
    * (pendant chains and barely-connected crawl debris peel away;
    * genuinely dense cores survive). Returns the surviving nodes with
    * their WITHIN-CORE degree.
    *
    * Exact set semantics — integer degrees, no floats — so the result
    * is engine-independent; an external oracle replays it as `maxRounds`
    * unrolled peel levels (peeling is idempotent after the fixpoint, so
    * unrolling more rounds than needed changes nothing). The engine
    * iterates to the ACTUAL fixpoint and fails loudly if `maxRounds`
    * does not reach it, keeping engine and replay in lockstep — the
    * Mondrian bounded-unroll contract. Worst-case round count is the
    * longest peel cascade (a bare path peels one layer per round);
    * real graphs converge in a handful.
    *
    * Scale: DELTA peeling on a NODE-sized degree table — the edge list
    * canonicalizes + symmetrizes behind one exchange and persists ONCE;
    * each round removes the below-k nodes and joins only THAT (usually
    * tiny) removal set against the cached edges to decrement the
    * survivors' degrees (AQE turns it into a broadcast probe when the
    * set is small; at web scale it degrades to a plain hash join, never
    * a rematerialization of the edge table). The r13 bench measured the
    * rematerialize-the-subgraph variant at 10.1 s for a 10-level
    * cascade vs ~3 s for this delta form — the per-round bill is one
    * cached-edge scan, not a shuffled edge rewrite. The maintained
    * degree IS the within-core degree at the fixpoint, so no final
    * subgraph join is needed. Nothing node-sized reaches the driver
    * (the convergence probe is a count). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"kCore: k=$k must be >= 1")
    require(maxRounds >= 1 && maxRounds <= 40,
      s"kCore: maxRounds=$maxRounds out of [1, 40]")
    val und = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // living nodes with their degree in the living subgraph; eager
    // truncation per round keeps the lineage a leaf (the round
    // references deg twice: filter + survivor side), and each superseded
    // leaf is freed once its successor is materialized. The below-k
    // convergence probe rides the SAME materialization job as an
    // observed metric ([[graft.util.Truncate.observed]]), making each
    // round ONE job instead of checkpoint + leaf-scan probe — the only
    // lever serial-round wall time has left in local mode; at cluster
    // scale it also halves the scheduler round-trips.
    val leaves = graft.util.Truncate.leaves(dir)
    def degWithStats(plan: DataFrame): (DataFrame, Long, Long) = {
      val (cp, m) = graft.util.Truncate.observed(plan)(
        sum(when(col("__d") < k, 1L).otherwise(0L)).as("below"),
        count(lit(1)).as("living"))
      (leaves.supersede(cp), m("below"), m("living"))
    }
    // Per-round plans over a SMALL living-node table pay more in AQE
    // query-stage scheduling (each round's join materializes 3-4 stage
    // jobs) than they gain from runtime re-planning — once the observed
    // living count is driver-known and small, run the remaining rounds
    // with AQE off (one job per round). Big state keeps AQE (skew-join,
    // broadcast conversion) — the 100 TB path is unchanged.
    //
    // HOW AQE is turned off matters: toggling the session-global conf
    // (the pre-r15 form) leaks to concurrent queries in the same JVM —
    // another query planned mid-round would silently run without AQE,
    // and two togglers clobber each other's save/restore (the exact
    // cross-query interference class this codebase's QueryCleanup /
    // Provenance scoping exists to kill). Instead the small-state round
    // plan is RE-BOUND onto a dedicated child session (a
    // [[graft.SparkInternals.childSession]]: it shares the SparkContext
    // and cache manager, keeps the caller's runtime confs and query
    // listeners, and isolates its own SQL conf) that has AQE off
    // permanently; the result is rebound onto the caller's session, so
    // the caller's own downstream plans keep its conf. Because `living`
    // is monotone decreasing under peeling, every later round's plan
    // derives from the re-bound checkpoint and inherits the quiet session
    // for free.
    // Verified empirically: the re-bound plan executes non-adaptive
    // while concurrent plans on the parent session keep AQE.
    val spark = edges.sparkSession
    val SmallState = 2000000L
    // Small-state rounds also shrink exchange partitioning: < SmallState
    // rows is ≤ ~32 MB of skinny (node, degree) rows, so 8 partitions of
    // ≤ 4 MB replace the session's data-scale default (guide §2.2 —
    // fewer, larger partitions; AQE would coalesce the same way but is
    // deliberately off here, see below). Sized by the OBSERVED living
    // count, never by the local core count, so the gate fires — and the
    // plan it produces — identically on a cluster.
    val SmallParts = 8
    lazy val quiet: SparkSession = graft.SparkInternals.childSession(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> SmallParts.toString)
    def roundPlan(living: Long)(plan: DataFrame): DataFrame =
      if (living < SmallState && (plan.sparkSession ne quiet))
        graft.SparkInternals.rebind(quiet, plan)
      else plan
    // one peel LEVEL: drop below-k nodes, decrement the survivors'
    // degrees by their edges into the removal set. `dirActive` starts as
    // the full cached symmetrized edge table and is swapped for a
    // src-partitioned small copy once the living state is observed small
    // (below).
    var dirActive = dir
    def peelOnce(d: DataFrame): DataFrame = {
      val removed = d.filter(col("__d") < k)
      val dec = dirActive
        .join(removed.select(col("node").as("src")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("__dec"))
      d.filter(col("__d") >= k)
        .join(dec, Seq("node"), "left")
        .select(col("node"),
          (col("__d") - coalesce(col("__dec"), lit(0L))).as("__d"))
    }
    var (deg, below, living) = degWithStats(
      dir.groupBy(col("src").as("node")).agg(count(lit(1)).as("__d")))
    var rounds = 0
    while (below > 0 && rounds < maxRounds) {
      rounds += 1
      if ((dirActive eq dir) && living < SmallState) {
        // Small living state makes the remaining rounds scheduling-floor
        // bound, and the dominant per-round stage was re-shuffling the
        // (unpartitioned) cached edge table into the removal-set join —
        // an edge-sized exchange every round. Re-stage the edges ONCE,
        // hash-partitioned on src at the quiet session's partition count,
        // so every remaining round's join probes an already-partitioned
        // cache with no edge-sized exchange (guide §2.4: establish the
        // partitioning once; the [[pageRankFixedPoint]] topology play).
        // Gated on the OBSERVED living count — the adaptive path above is
        // what runs while the state is big.
        //
        // The staged copy is RESTRICTED to edges whose src is still
        // living: every future removal set is a subset of today's living
        // nodes (deg only ever shrinks), so edges out of already-peeled
        // nodes can never match the probe again. Without the semi-join
        // the staging step would re-shuffle the FULL edge table — which
        // at 100 TB can still be petabyte-sized when only 2M nodes
        // remain alive — into 8 partitions. With it, the staged table is
        // bounded by the living subgraph (≤ Σ living out-degrees).
        val small = graft.SparkInternals.rebind(quiet, dir)
          .join(deg.select(col("node").as("src")), Seq("src"), "left_semi")
          .repartition(col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        graft.QueryCleanup.register(() => { small.unpersist(); () })
        dirActive = small
      }
      val (next, b, l) = degWithStats(roundPlan(living)(peelOnce(deg)))
      deg = next
      below = b
      living = l
    }
    val converged = below == 0L
    require(converged,
      s"kCore: no fixpoint after $maxRounds rounds — raise maxRounds " +
        s"(the oracle unroll must be raised with it)")
    graft.SparkInternals.rebind(spark, deg.select(col("node"), col("__d").as("core_degree")))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all directed edge instances (each undirected
    * edge counted both ways) — r > 0 means hubs prefer hubs (social
    * graphs), r < 0 means hubs fan out to leaves (the web, and most
    * bot/spam farms, which is why it's a useful structural audit next
    * to [[triangleCounts]]).
    *
    * Determinism: degrees are exact longs; the five moment sums
    * accumulate in decimal(38) (degrees ≤ n, so Σjk ≤ m·n² — far past
    * a 64-bit product at 1e12 edges); one fixed-shape double at the
    * edge, rounded 6 dp, null when either variance is 0 (a regular
    * graph has undefined assortativity).
    *
    * Scale: canonical distinct edges (one exchange) → degree
    * aggregation → two node-keyed joins back → one 1-row aggregate.
    * Output: one row (n_nodes, m_edges, r). */
  def assortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.QueryCleanup.register(() => e.unpersist())
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // both directions of every undirected edge — the standard estimator
    val directed = e.select(col("a").as("s"), col("b").as("t"))
      .unionAll(e.select(col("b").as("s"), col("a").as("t")))
    val joined = directed
      .join(deg.withColumnsRenamed(Map("v" -> "s", "d" -> "__j")), "s")
      .join(deg.withColumnsRenamed(Map("v" -> "t", "d" -> "__k")), "t")
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(38,0)")
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val agg = joined.agg(
      count(lit(1)).as("__m"),
      sum(dec(col("__j"))).as("__sj"), sum(dec(col("__k"))).as("__sk"),
      sum(dec(col("__j")) * col("__j")).as("__sjj"),
      sum(dec(col("__k")) * col("__k")).as("__skk"),
      sum(dec(col("__j")) * col("__k")).as("__sjk"))
    val m = dec(col("__m"))
    val num = (m * col("__sjk") - col("__sj") * col("__sk")).cast("double")
    val venJ = (m * col("__sjj") - col("__sj") * col("__sj")).cast("double")
    val venK = (m * col("__skk") - col("__sk") * col("__sk")).cast("double")
    agg.crossJoin(broadcast(nodes)).select(
      col("n_nodes"),
      expr("__m div 2").as("m_edges"),
      when(venJ > 0 && venK > 0, round(num / sqrt(venJ * venK), 6)).as("r"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) in exact integer
    * arithmetic: the classic mutual-reinforcement iteration
    *
    *   a'(v) = Σ_{u→v} h(u)      h'(u) = Σ_{u→v} a'(v)
    *
    * with each half-step L∞-normalized — scores rescale so the maximum
    * is exactly 1e6, via integer multiply-then-div:
    * s'(v) = (s(v)·1e6) div max(s). L∞ instead of the textbook L2 keeps
    * every value a long (no sqrt anywhere), preserves the ranking
    * (normalization is monotone), and replays bit-for-bit in an
    * external engine's unrolled CTEs. Completes the link-analysis
    * family beside [[pageRankFixedPoint]]: PR prices global random-walk
    * visitation; HITS prices the hub/authority duality (a node can be a
    * great directory without being a popular destination).
    *
    * Output: (node, hub_micro, auth_micro), max of each column = 1e6
    * (on any graph with at least one edge). Overflow contract: raw
    * authority mass is ≤ 1e6·indeg, and the normalization multiplies by
    * 1e6 — in-degree (and out-degree) must stay ≤ ~9e6; violations
    * raise rather than wrap.
    *
    * Scale: identical topology to [[pageRankFixedPoint]] — the edge
    * list shuffles once and persists; each half-step is one
    * map-side-combined sum onto the opposite endpoint plus a node-sized
    * left join. The L∞ max is a 1-row aggregate broadcast back (bounded
    * — never a data-sized window). */
  def hitsScores(edges: DataFrame, srcCol: String, dstCol: String,
                 iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    val e = longEdges(edges, srcCol, dstCol)
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).persist(StorageLevel.MEMORY_AND_DISK)
    def normalized(raw: DataFrame, valCol: String): DataFrame = {
      // guard BEFORE the 1e6 multiply: past 9e12 the rescale would wrap
      val guarded = raw.withColumn(valCol,
        when(col(valCol) > 9000000000000L,
          raise_error(lit("hitsScores: raw score > 9e12 — degree contract")))
          .otherwise(col(valCol)))
      val mx = guarded.agg(max(col(valCol)).as("__mx"))
      nodes.join(guarded, Seq("node"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("__mx") > 0,
            expr(s"(coalesce($valCol, 0L) * 1000000) div __mx"))
            .otherwise(lit(0L)).as(valCol))
    }
    var hub = nodes.select(col("node"), lit(1000000L).as("h"))
    var auth: DataFrame = null
    // Each half-step's aggregated raw table is eagerly CHECKPOINTED
    // (node-sized): the normalization references it twice (L-inf max
    // probe + the value branch), and downstream half-steps reference the
    // normalized form again — under plain persist() every reference kept
    // the FULL logical subtree alive (the r16 baseline plan: 689
    // Exchange nodes / 4082 explain lines for 2 iterations, re-optimized
    // by AQE after every stage; 8.5 s at sf0.1). As lineage leaves the
    // plan stays half-step-sized and planning cost is constant per
    // half-step. The normalized form itself stays lazy — it is one
    // cache⋈leaf⋈broadcast join, cheap to replay per reference.
    val leaves = graft.util.Truncate.leaves(e, nodes)
    for (_ <- 1 to iterations) {
      auth = normalized(leaves.keep(truncate(
        e.join(nodeSide(hub.withColumnRenamed("node", "src")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a")))), "a")
      hub = normalized(leaves.keep(truncate(
        e.join(nodeSide(auth.withColumnRenamed("node", "dst")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("h")))), "h")
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  /** SALSA hubs-and-authorities (Lempel & Moran 2000): HITS's
    * mutual-reinforcement structure but with RANDOM-WALK (stochastic)
    * normalization instead of mass amplification — each node forwards
    * its score SPLIT across its edges rather than copied along them:
    *
    *   a'(v) = Σ_{u→v} h(u) div outdeg(u)
    *   h'(u) = Σ_{u→v} a'(v) div indeg(v)
    *
    * the degree-division that makes SALSA robust to the tightly-knit-
    * community effect that inflates HITS (a dense clique amplifies
    * itself quadratically under HITS; under SALSA its mass is split on
    * every hop). No per-step normalization is needed — mass is
    * approximately conserved (integral division loses < 1 unit per
    * edge) — so the whole run is pure long arithmetic, replayable as
    * unrolled CTEs. Init h₀ = 1e6.
    *
    * Output: (node, hub_micro, auth_micro). Scale: the edge list with
    * both degrees attached shuffles once and persists; each half-step
    * moves only the node-sized score table. */
  def salsaScores(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    val e0 = longEdges(edges, srcCol, dstCol)
    // both degree annotations ride the SAME src-keyed exchange: outdeg
    // as a window over the repartition, indeg joined from a dst-keyed
    // count (one extra shuffle of (dst, count) pairs — node-sized)
    val indeg = e0.groupBy(col("dst")).agg(count(lit(1)).as("__indeg"))
    val e = outDegree(e0)
      .join(indeg, Seq("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).persist(StorageLevel.MEMORY_AND_DISK)
    var hub = nodes.select(col("node"), lit(1000000L).as("h"))
    var auth: DataFrame = null
    // Each half-step's aggregated score table eagerly CHECKPOINTS
    // ([[hitsScores]]' r16 rationale: persist kept the full logical
    // subtree under every reference — 269 Exchange nodes / 1925 explain
    // lines at 2 iterations — and AQE re-optimized it per stage; as
    // lineage leaves the plan is constant per half-step). The dense
    // hub/auth forms stay lazy (one cache⋈leaf join each).
    val leaves = graft.util.Truncate.leaves(e, nodes)
    for (_ <- 1 to iterations) {
      val araw = leaves.keep(truncate(
        e.join(nodeSide(hub.withColumnRenamed("node", "src")), "src")
          .select(col("dst").as("node"), expr("h div __outdeg").as("__c"))
          .groupBy("node").agg(sum(col("__c")).as("a"))))
      auth = nodes.join(araw, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0L)).as("a"))
      val hraw = leaves.keep(truncate(
        e.join(nodeSide(auth.withColumnRenamed("node", "dst")), "dst")
          .select(col("src").as("node"), expr("a div __indeg").as("__c"))
          .groupBy("node").agg(sum(col("__c")).as("h"))))
      hub = nodes.join(hraw, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0L)).as("h"))
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  /** PageRank CONVERGENCE CURVE — per-iteration score movement of
    * [[pageRankFixedPoint]]'s exact fixed point, the tuning table for
    * the `iterations` knob the way [[graft.ops.Similarity.ivfRecallCurve]]
    * tunes `nprobe`: every extra iteration is a full edge-sized
    * propagation pass at corpus scale, and this query shows exactly
    * what each one still buys. Per iteration i: l1_delta = Σ|r_i −
    * r_{i−1}| (total mass still moving), max_delta (the worst single
    * node), moved_nodes (how many changed at all) — all exact long
    * arithmetic on the micro-unit protocol, so the curve replays as
    * unrolled CTEs and hash-checks.
    *
    * Output: (iter, l1_delta, max_delta, moved_nodes), one row per
    * iteration, iter ascending.
    *
    * Scale: identical topology to [[pageRankFixedPoint]] (out-degree
    * rides the one src shuffle, edges persist); each iteration's rank
    * table PERSISTS (node-sized — the [[hitsScores]] rationale: the
    * diff agg and the next round both reference it) and the diff is a
    * node-keyed join aggregated to ONE row per iteration. */
  def pageRankConvergence(edges: DataFrame, srcCol: String, dstCol: String,
                          iterations: Int = 4,
                          dampNumer: Int = 850, dampDenom: Int = 1000,
                          initMicro: Long = 1000000L): DataFrame = {
    requireDamping(iterations, dampNumer, dampDenom)
    val topo = outDegree(longEdges(edges, srcCol, dstCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(topo).persist(StorageLevel.MEMORY_AND_DISK)
    val walk = RankWalk(topo, nodes, "rank div __outdeg", lit(_), dampNumer, dampDenom, initMicro)
    // Every rank level is CHECKPOINTED (lineage leaf, r16 — see
    // [[truncate]]): the diff agg and the next round both reference each
    // level, and under plain persist() every reference inlined the full
    // logical subtree (the r16 baseline measured q337's final plan at
    // 775 Exchange nodes / 6117 explain lines for 4 iterations). All
    // levels stay referenced by the output union, so leaves release only
    // at cleanup.
    val leaves = graft.util.Truncate.leaves(topo, nodes)
    val levels = (1 to iterations).scanLeft(leaves.keep(truncate(walk.init))) {
      (ranks, _) => leaves.keep(truncate(walk.round(ranks)))
    }
    levels.zip(levels.tail).zipWithIndex.map { case ((prev, next), i) =>
      prev.select(col("node"), col("rank").as("__prev"))
        .join(next, Seq("node"))
        .agg(sum(abs(col("rank") - col("__prev"))).as("l1_delta"),
          max(abs(col("rank") - col("__prev"))).as("max_delta"),
          sum(when(col("rank") =!= col("__prev"), 1L).otherwise(0L))
            .as("moved_nodes"))
        .select(lit(i + 1L).as("iter"), col("l1_delta"), col("max_delta"),
          col("moved_nodes"))
    }.reduce(_.unionByName(_)).orderBy("iter")
  }
}
