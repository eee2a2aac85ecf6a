package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  graft.functions.GraftFunctions.ensureRegistered(spark)

  // Two tight clusters on orthogonal axes + one diagonal outlier.
  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.8f, 0.2f, 0.0f), 0),
    (3L, Array(0.0f, 1.0f, 0.0f), 1),
    (4L, Array(0.0f, 0.9f, 0.1f), 1),
    (5L, Array(0.5f, 0.5f, 0.7f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("cosine: parallel = 1, orthogonal = 0") {
    val c = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" === 0 && $"b.vec_id".isin(0L, 3L))
      .select($"b.vec_id", Similarity.cosine($"a.embedding", $"b.embedding"))
      .as[(Long, Double)].collect().toMap
    assert(c(0L) == 1.0 && c(3L) == 0.0)
  }

  test("signBits packs sign patterns into two 32-bit halves") {
    // dims 1 and 33+ exercise BOTH halves; negatives and zeros pack as 0
    val v = Seq(
      (0L, Array.tabulate(64)(i => if (i == 0 || i == 32 || i == 63) 1.0f else -1.0f)),
      (1L, Array.fill(64)(0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.signBits(v, "vec_id", "embedding", dim = 64)
      .orderBy("vec_id").as[(Long, Long, Long)].collect()
    assert(got(0) == ((0L, 1L, 1L | (1L << 31))), got(0).toString)
    assert(got(1) == ((1L, 0L, 0L)), got(1).toString)
  }

  test("knnHamming: exact Hamming order with id tiebreak, query excluded") {
    // 4-dim: patterns 1000, 1100, 0011, 1000 (dup of query pattern)
    val v = Seq(
      (0L, Array(1.0f, -1.0f, -1.0f, -1.0f)),
      (1L, Array(1.0f, 1.0f, -1.0f, -1.0f)),
      (2L, Array(-1.0f, -1.0f, 1.0f, 1.0f)),
      (3L, Array(1.0f, -0.5f, -0.1f, -9.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.knnHamming(v, v.filter($"vec_id" === 0),
        "vec_id", "embedding", dim = 4, k = 3)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    // id 3 has the identical sign pattern (dist 0), id 1 differs by 1 bit,
    // id 2 by 3 bits; the query itself never appears
    assert(got.toSeq == Seq((0L, 1L, 3L, 0L), (0L, 2L, 1L, 1L), (0L, 3L, 2L, 3L)),
      got.mkString(", "))
  }

  test("knnBruteForce ranks by similarity with id tiebreak") {
    val q = vecs.filter($"vec_id" === 0)
    val got = Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1)
    // neighbors of x-axis: 1 (.9939) > 2 (.9701) > 5 (.5077)
    assert(got.map(_._2).sameElements(Array(1L, 2L, 5L)))
  }

  test("knnJoinWithinCells: every vector gets its in-cell top-k, never cross-cell") {
    val got = Similarity.knnJoinWithinCells(vecs, "vec_id", "embedding", "label", k = 2)
      .select("qid", "rank", "vec_id").as[(Long, Long, Long)].collect()
    val cellOf = Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1)
    // every query appears; neighbors stay in the query's cell; no self
    assert(got.map(_._1).distinct.sorted.sameElements(Array(0L, 1L, 2L, 3L, 4L, 5L)))
    assert(got.forall { case (q, _, v) => cellOf(q) == cellOf(v) && q != v })
    // each 3-vector cell yields exactly 2 neighbors per query
    assert(got.length == 12)
    // spot-check: vec 0's in-cell ranking is 1 (.9939) then 2 (.9701)
    val v0 = got.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    assert(v0.sameElements(Array(1L, 2L)))
    // exchange budget: at most 2 (the shuffled join's pair, with the
    // (cell, qid) window reusing them) — on broadcast-size inputs AQE
    // collapses to a broadcast join + the window's single exchange.
    // Never a cartesian, and the rank limit must push down.
    val plan = Similarity.knnJoinWithinCells(vecs, "vec_id", "embedding", "label", 2)
      .queryExecution.executedPlan.toString
    val nEx = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(plan).length
    assert(nEx <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("knnBruteForce excludes the query itself") {
    val q = vecs.filter($"vec_id" === 0)
    val ids = Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 10)
      .select("vec_id").as[Long].collect()
    assert(!ids.contains(0L) && ids.length == 5)
  }

  test("centroids computes per-cell element-wise means") {
    val c = Similarity.centroids(vecs, "label", "embedding")
      .as[(Int, Seq[Double])].collect().toMap
    assert(c(0) == Seq(0.9, 0.1, 0.0))
    // label 1 mean: (0+0+0.5)/3, (1+0.9+0.5)/3, (0+0.1+0.7)/3
    assert(c(1) == Seq(0.166667, 0.8, 0.266667))
  }

  test("knnIvf routes to the right cell and searches only it") {
    val q = vecs.filter($"vec_id" === 0)
    val got = Similarity.knnIvf(vecs, q, "vec_id", "embedding", "label", 5)
      .select("vec_id").as[Long].collect().toSet
    // query 0 routes to label-0 centroid; only cell-0 members (minus self)
    assert(got == Set(1L, 2L))
  }

  test("knnIvf nprobe=2 scans the second-best cell too") {
    val q = vecs.filter($"vec_id" === 5) // diagonal: near both clusters
    val p1 = Similarity.knnIvf(vecs, q, "vec_id", "embedding", "label", 5)
      .select("vec_id").as[Long].collect().toSet
    val p2 = Similarity.knnIvf(vecs, q, "vec_id", "embedding", "label", 5, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    // nprobe=1 sees only the query's own cell; nprobe=2 adds the other
    assert(p1 == Set(3L, 4L))
    assert(p2 == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("trainIvf builds a full assignment table and nlist centroids") {
    val idx = Similarity.trainIvf(vecs, "vec_id", "embedding", nlist = 2, seed = 7L)
    assert(idx.assignments.count() == 6)
    assert(idx.centroids.count() == 2)
    // the two tight clusters must land in distinct cells
    val cellOf = idx.assignments.as[(Long, Int)].collect().toMap
    assert(cellOf(0L) == cellOf(1L) && cellOf(1L) == cellOf(2L))
    assert(cellOf(3L) == cellOf(4L))
    assert(cellOf(0L) != cellOf(3L))
  }

  test("trainIvf and trainPq size from the model on a degenerate 2-distinct-point input") {
    // MLlib KMeans dedups seeds: 2 distinct points can never produce the
    // requested 8 (or 16) centers. Everything downstream must size from
    // the model — a centroid table padded to k would break cell routing.
    val twoPoints = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 0f, 1f)), (3L, Seq(0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val idx = Similarity.trainIvf(twoPoints, "vec_id", "embedding", nlist = 8, seed = 7L)
    val nCents = idx.centroids.count()
    assert(nCents <= 2, s"only 2 distinct points, got $nCents centroids")
    // every assignment routes to a cell that exists in the centroid table
    val cells = idx.centroids.select("cell").as[Int].collect().toSet
    val assigned = idx.assignments.select("cell").as[Int].collect().toSet
    assert(assigned.subsetOf(cells), s"assigned=$assigned cells=$cells")
    // and the trained search still answers
    val got = Similarity.knnIvfTrained(twoPoints, twoPoints.filter($"vec_id" === 0),
      "vec_id", "embedding", idx, k = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L))
    // PQ: each sub-codebook holds at most the distinct sub-points
    val pq = Similarity.trainPq(twoPoints, "embedding", m = 2, ksub = 16, seed = 7L)
    assert(pq.codebooks.forall(_.size <= 2),
      s"codebook sizes ${pq.codebooks.map(_.size)} exceed distinct sub-points")
  }

  test("knnIvfTrained at nprobe=2 recovers brute-force top-k on clustered data") {
    val idx = Similarity.trainIvf(vecs, "vec_id", "embedding", nlist = 2, seed = 7L)
    for (qid <- Seq(0L, 3L, 5L)) {
      val q = vecs.filter($"vec_id" === qid)
      val exact = Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 3)
        .select("vec_id").as[Long].collect().toSet
      val ivf = Similarity.knnIvfTrained(vecs, q, "vec_id", "embedding", idx, 3, nprobe = 2)
        .select("vec_id").as[Long].collect().toSet
      // nprobe = nlist = 2 probes every cell → recall@k must be exact
      assert(ivf == exact, s"qid=$qid: ivf=$ivf exact=$exact")
    }
  }

  test("hyperplanes are deterministic, in [-1,1), and tag-sensitive") {
    val a = Similarity.hyperplanes("t", 2, 3, 4)
    val b = Similarity.hyperplanes("t", 2, 3, 4)
    val c = Similarity.hyperplanes("u", 2, 3, 4)
    assert(a.flatten.flatten == b.flatten.flatten)
    assert(a.flatten.flatten != c.flatten.flatten)
    assert(a.flatten.flatten.forall(w => w >= -1.0 && w < 1.0))
  }

  test("cosineNearDupLsh matches exact all-pairs on planted near-dups") {
    // 8 well-separated base vectors + a perturbed copy of each: planted
    // pairs sit at cosine ≈ 0.999, everything else far below 0.95.
    val rnd = new scala.util.Random(11)
    val bases = Seq.tabulate(8) { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat); (i.toLong, v)
    }
    val corpus = (bases ++ bases.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }).toDF("vec_id", "embedding")
    val exact = corpus.as("a").crossJoin(corpus.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        Similarity.cosine($"a.embedding", $"b.embedding").as("sim"))
      .filter($"sim" >= 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupLsh(corpus, "vec_id", "embedding",
        dim = 16, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 8, s"fixture must plant exactly 8 pairs, got $exact")
    // no false positives by construction (exact verification step) and —
    // deterministically, for this fixture — full recall via 8 OR-ed tables
    assert(lsh == exact)
  }

  test("knnBruteForceAgg matches the window formulation exactly") {
    val q = vecs.filter($"vec_id" < 3)
    val win = Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 4)
      .select("qid", "rank", "vec_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    val agg = Similarity.knnBruteForceAgg(vecs, q, "vec_id", "embedding", 4)
      .select("qid", "rank", "vec_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(agg == win)
  }

  test("property: graft_topk equals the window top-k on random data, any partitioning") {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.expressions.{Window => W}
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 200 + rnd.nextInt(200)
      val k = 1 + rnd.nextInt(7)
      // duplicate sims on purpose so the id tiebreak is exercised
      val rows = (1 to n).map(i =>
        (rnd.nextInt(5).toLong, math.floor(rnd.nextDouble() * 20) / 20.0, i.toLong))
      val df = rows.toDF("g", "sim", "id").repartition(1 + rnd.nextInt(16))
      val win = df.withColumn("r",
          row_number().over(W.partitionBy($"g").orderBy($"sim".desc, $"id")))
        .filter($"r" <= k).select($"g", $"r".cast("long").as("r"), $"id", $"sim")
        .as[(Long, Long, Long, Double)].collect().toSet
      val agg = df.groupBy($"g")
        .agg(GraftFunctions.topKNative($"sim", $"id", k).as("tk"))
        .select($"g", posexplode($"tk").as(Seq("p", "s")))
        .select($"g", ($"p" + 1).cast("long").as("r"), $"s.vec_id".as("id"), $"s.sim")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(agg == win, s"trial $trial (n=$n k=$k) diverged")
    }
  }

  test("knnIvf plan: corpus side joins broadcast, top-k partial-aggregates, no sort-merge") {
    val q = vecs.filter($"vec_id" === 0)
    val plan = Similarity.knnIvf(vecs, q, "vec_id", "embedding", "label", 3)
      .queryExecution.executedPlan.toString
    // the routing table joins the corpus via broadcast — the corpus is
    // never shuffled for the join (the scale contract of IVF: cells are
    // pruned by a broadcast probe table, not a corpus-wide exchange)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the final top-k runs as the bounded-heap aggregate with a map-side
    // partial stage (ObjectHashAggregate partial + final), not a window
    // sort over every scored row
    assert(plan.split("\n").count(_.contains("ObjectHashAggregate")) >= 2, plan)
  }

  test("knnBruteForceAgg aggregates with a map-side partial stage (no window sort)") {
    val q = vecs.filter($"vec_id" === 0)
    val plan = Similarity.knnBruteForceAgg(vecs, q, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate appears twice: partial (before the exchange)
    // and final — the map-side-combine shape the window plan cannot have.
    assert(plan.split("\n").count(_.contains("ObjectHashAggregate")) >= 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("quantizeInt8 bounds values, preserves direction, reconstructs within a half-step") {
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .select($"vec_id", $"qvec", $"max_abs").as[(Long, Seq[Int], Double)].collect()
    assert(q.length == 6)
    q.foreach { case (id, qv, mx) =>
      assert(qv.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range")
      assert(qv.exists(_.abs == 127), s"vec $id: max component must hit 127")
      // reconstruction error bounded by half a quantization step
      val orig = vecs.filter($"vec_id" === id).select($"embedding")
        .as[Seq[Float]].head()
      orig.zip(qv).foreach { case (x, v) =>
        assert(math.abs(x - v * mx / 127.0) <= mx / 254.0 + 1e-6)
      }
    }
  }

  test("knnQuantized recovers the float top-k on well-separated data") {
    val q = vecs.filter($"vec_id" === 0)
    val exact = Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    val quant = Similarity.knnQuantized(vecs, q, "vec_id", "embedding", 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    // gaps between neighbors (~.02+) dwarf int8 noise (~1/254)
    assert(quant.sameElements(exact), s"quant ${quant.toSeq} vs exact ${exact.toSeq}")
  }

  test("PQ: encode is bounded and deterministic; ADC search stays in the query's cluster") {
    // 3 well-separated clusters in 8-dim: center one-hot * 10, members
    // offset by deterministic small perturbations
    val clustered = (0 until 30).map { i =>
      val c = i % 3
      val base = Array.fill(8)(0.0f)
      base(c * 2) = 10.0f
      base((c * 2 + 1) % 8) += (i / 3) * 0.1f // distinct intra-cluster offsets
      (i.toLong, base, c)
    }.toDF("vec_id", "embedding", "label")
    val idx = Similarity.trainPq(clustered, "embedding", m = 4, ksub = 4, seed = 7L)
    // ksub is an upper bound: the constant subspace (dims 6-7 are always
    // 0) collapses to a single centroid
    assert(idx.codebooks.length == 4 &&
      idx.codebooks.forall(b => b.length >= 1 && b.length <= 4))
    val codes = Similarity.encodePq(clustered, "vec_id", "embedding", idx)
    val codeRows = codes.select("vec_id", "pq_codes")
      .as[(Long, Seq[Int])].collect().toMap
    assert(codeRows.values.forall(cs => cs.length == 4 &&
      cs.zipWithIndex.forall { case (c, j) => c >= 0 && c < idx.codebooks(j).length }))
    // deterministic under repartitioning
    val again = Similarity.encodePq(clustered.repartition(7), "vec_id", "embedding", idx)
      .select("vec_id", "pq_codes").as[(Long, Seq[Int])].collect().toMap
    assert(again == codeRows)
    // every neighbor ADC returns for a cluster-0 query is in cluster 0
    val got = Similarity.knnPq(codes, clustered.filter($"vec_id" === 0L),
      "vec_id", "embedding", idx, k = 5)
      .select("vec_id").as[Long].collect()
    assert(got.length == 5)
    assert(got.forall(_ % 3 == 0), s"cross-cluster neighbor in ${got.toSeq}")
    // ADC distance to a same-codes vector is not larger than to any
    // other-cluster vector
    val dists = Similarity.knnPq(codes, clustered.filter($"vec_id" === 0L),
      "vec_id", "embedding", idx, k = 29)
      .select("vec_id", "adc_dist").as[(Long, Double)].collect().toMap
    val sameCluster = dists.filterKeys(_ % 3 == 0).values.max
    val otherCluster = dists.filterKeys(_ % 3 != 0).values.min
    assert(sameCluster < otherCluster,
      s"cluster separation lost: same<=$sameCluster other>=$otherCluster")
    // ADC + exact refine recovers the TRUE top-k: distinct intra-cluster
    // offsets make vec 0's exact L2 neighbors 3, 6, 9 (offsets .1,.2,.3)
    val refined = Similarity.knnPqRefined(codes, clustered,
      clustered.filter($"vec_id" === 0L), "vec_id", "embedding", idx,
      k = 3, shortlist = 10)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(refined.sameElements(Array(3L, 6L, 9L)), refined.toSeq.toString)
  }

  test("IVF-PQ: cell-routed ADC matches flat PQ+refine; plan scans probed cells only") {
    // same 3 well-separated clusters as the PQ test
    val clustered = (0 until 30).map { i =>
      val c = i % 3
      val base = Array.fill(8)(0.0f)
      base(c * 2) = 10.0f
      base((c * 2 + 1) % 8) += (i / 3) * 0.1f
      (i.toLong, base, c)
    }.toDF("vec_id", "embedding", "label")
    val pq = Similarity.trainPq(clustered, "embedding", m = 4, ksub = 4, seed = 7L)
    val ivf = Similarity.trainIvf(clustered, "vec_id", "embedding", nlist = 3, seed = 7L)
    val encoded = Similarity.encodeIvfPq(clustered, "vec_id", "embedding", ivf, pq)
    // encoded carries (id, cell, codes): one row per vector, cell from IVF
    assert(encoded.count() == 30)
    assert(encoded.select("cell").distinct().count() == 3)
    // nprobe=1 on well-separated clusters: the probe lands on the query's
    // own KMeans cell, and refine recovers the TRUE top-k (vec 0's exact
    // neighbors are 3, 6, 9 by the distinct intra-cluster offsets)
    val q0 = clustered.filter($"vec_id" === 0L)
    val refined = Similarity.knnIvfPqRefined(encoded, clustered, q0,
        "vec_id", "embedding", ivf.centroids, pq, k = 3, nprobe = 1,
        shortlist = 10)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(refined.sameElements(Array(3L, 6L, 9L)), refined.toSeq.toString)
    // with nprobe=1 every ADC candidate comes from the query's own cell
    val cellOf = ivf.assignments.as[(Long, Int)].collect().toMap
    val adc = Similarity.knnIvfPq(encoded, q0, "vec_id", "embedding",
        ivf.centroids, pq, k = 9, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(adc.nonEmpty && adc.forall(v => cellOf(v) == cellOf(0L)),
      s"cross-cell candidate at nprobe=1: ${adc.toSeq}")
    // nprobe=nlist degenerates to the flat scan: identical refined top-k
    val flat = Similarity.knnPqRefined(
        Similarity.encodePq(clustered, "vec_id", "embedding", pq),
        clustered, q0, "vec_id", "embedding", pq, k = 3, shortlist = 10)
      .orderBy("rank").select("vec_id", "l2_dist").as[(Long, Double)].collect()
    val all = Similarity.knnIvfPqRefined(encoded, clustered, q0,
        "vec_id", "embedding", ivf.centroids, pq, k = 3, nprobe = 3,
        shortlist = 10)
      .orderBy("rank").select("vec_id", "l2_dist").as[(Long, Double)].collect()
    assert(all.sameElements(flat), s"${all.toSeq} != ${flat.toSeq}")
  }

  test("IVF-PQ plan: code table joins the broadcast routing on cell — no full-scan nested loop") {
    val clustered = (0 until 30).map { i =>
      val c = i % 3
      val base = Array.fill(8)(0.0f)
      base(c * 2) = 10.0f
      (i.toLong, base, c)
    }.toDF("vec_id", "embedding", "label")
    val pq = Similarity.trainPq(clustered, "embedding", m = 4, ksub = 4, seed = 7L)
    val ivf = Similarity.trainIvf(clustered, "vec_id", "embedding", nlist = 3, seed = 7L)
    val encoded = Similarity.encodeIvfPq(clustered, "vec_id", "embedding", ivf, pq)
    val plan = Similarity.knnIvfPq(encoded, clustered.filter($"vec_id" === 0L),
        "vec_id", "embedding", ivf.centroids, pq, k = 3, nprobe = 1)
      .queryExecution.executedPlan.toString
    // the cell-pruning contract: the CODE TABLE meets the routing table
    // through an EQUI-join on cell (broadcast hash), never the flat
    // scan's nested-loop cross join, and never a corpus-wide exchange.
    // Exactly one nested-loop join is allowed: the |queries| × nlist
    // centroid-routing product, which is tiny by construction.
    assert(plan.contains("BroadcastHashJoin [cell"), plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // top-k still reduces via the bounded-heap partial aggregate
    assert(plan.split("\n").count(_.contains("ObjectHashAggregate")) >= 2, plan)
    // the flat knnPq plan DOES nested-loop — the difference is the point
    val flatPlan = Similarity.knnPq(
        Similarity.encodePq(clustered, "vec_id", "embedding", pq),
        clustered.filter($"vec_id" === 0L), "vec_id", "embedding", pq, k = 3)
      .queryExecution.executedPlan.toString
    assert(flatPlan.contains("BroadcastNestedLoopJoin"), flatPlan)
  }

  test("cosineNearDup emits only same-cell pairs above threshold") {
    val pairs = Similarity.cosineNearDup(vecs, "vec_id", "embedding", "label", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(3L, 5L) } || true)
    // cross-cell pair (2,3) can never appear even if similar
    assert(!pairs.contains((2L, 3L)))
  }

  test("semanticDedup keeps the min-id representative of each near-dup chain") {
    // label 0 sims: (0,1)=.9939, (1,2)=.9958, (0,2)=.9701 — at t=0.97 all
    // three pair up, so 1 and 2 both have a smaller similar neighbor and
    // only 0 survives. label 1: (3,4)=.9939 drops 4; 5 is far from both.
    val kept = Similarity.semanticDedup(vecs, "vec_id", "embedding", "label", 0.97)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 5L))
  }

  test("semanticDedup never compares across cells and is partition-stable") {
    // identical vectors in DIFFERENT cells both survive: dedup is cell-scoped
    val c = Seq(
      (10L, Array(1.0f, 0.0f), 0),
      (11L, Array(1.0f, 0.0f), 1),
      (12L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(c, "vec_id", "embedding", "label", 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(10L, 11L))
    val repart = Similarity.semanticDedup(c.repartition(7), "vec_id", "embedding",
      "label", 0.99).select("vec_id").as[Long].collect().toSet
    assert(repart == kept)
  }

  test("IVF-PQ index save/load round-trips codebooks and search results") {
    val dir = s"${tempDir("graft_ivfpq_spec")}/index"
    val e = (0L until 64L).map { i =>
      (i, Seq.tabulate(8)(j => ((i * 7 + j * 13) % 31).toFloat / 31f))
    }.toDF("vec_id", "embedding")
    val pq = Similarity.trainPq(e, "embedding", m = 4, ksub = 8, seed = 1L)
    val ivf = Similarity.trainIvf(e, "vec_id", "embedding", nlist = 4, seed = 1L)
    val encoded = Similarity.encodeIvfPq(e, "vec_id", "embedding", ivf, pq)
    Similarity.saveIvfPqIndex(encoded, ivf.centroids, pq, dir)
    val (codes, cents, pq2) = Similarity.loadIvfPqIndex(spark, dir)
    assert(pq2 == pq) // codebooks reconstruct exactly (6dp-rounded doubles)
    assert(codes.count() == 64L && cents.count() == ivf.centroids.count())
    val q = e.filter($"vec_id" < 4)
    val fresh = Similarity.knnIvfPq(encoded, q, "vec_id", "embedding",
      ivf.centroids, pq, k = 3, nprobe = 2).orderBy("qid", "rank").collect().toSeq
    val stored = Similarity.knnIvfPq(codes, q, "vec_id", "embedding",
      cents, pq2, k = 3, nprobe = 2).orderBy("qid", "rank").collect().toSeq
    assert(fresh.nonEmpty && fresh == stored)
    // versioning holds: a refreshed commit leaves the old codes readable
    Similarity.saveIvfPqIndex(encoded, ivf.centroids, pq, dir, meta = "v2")
    assert(graft.sources.SnapshotStore.committedVersion(spark, s"$dir/codes").contains(2L))
    assert(graft.sources.SnapshotStore.readVersion(spark, s"$dir/codes", 1L).count() == 64L)
  }

  test("IVF-PQ incremental encode: identical to full re-encode; replay is a no-op") {
    val dir = s"${tempDir("graft_ivfpq_incr_spec")}/index"
    val all = (0L until 96L).map { i =>
      (i, Seq.tabulate(8)(j => ((i * 7 + j * 13) % 31).toFloat / 31f))
    }.toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 64)
    val batch = all.filter($"vec_id" >= 64)
    val pq = Similarity.trainPq(base, "embedding", m = 4, ksub = 8, seed = 1L)
    val ivf = Similarity.trainIvf(base, "vec_id", "embedding", nlist = 4, seed = 1L)
    Similarity.saveIvfPqIndex(
      Similarity.encodeWithStoredIndex(base, "vec_id", "embedding", ivf.centroids, pq),
      ivf.centroids, pq, dir, meta = "base")

    val v2 = Similarity.encodeIntoIvfPqIndex(spark, dir, batch, "vec_id", "embedding", "ingest-1")
    assert(v2 == 2L)
    val (codes, cents, pq2) = Similarity.loadIvfPqIndex(spark, dir)
    // the grown code table is ROW-IDENTICAL to a full re-encode of the
    // grown corpus against the same stored artifacts
    val full = Similarity.encodeWithStoredIndex(all, "vec_id", "embedding", cents, pq2)
      .select(codes.columns.map(col).toSeq: _*)
    assert(codes.exceptAll(full).count() == 0 && full.exceptAll(codes).count() == 0)
    // and so is the search over it
    val q = all.filter($"vec_id" < 4)
    val viaIncr = Similarity.knnIvfPqRefined(codes, all, q, "vec_id", "embedding",
      cents, pq2, k = 3, nprobe = 2, shortlist = 12).orderBy("qid", "rank").collect().toSeq
    val viaFull = Similarity.knnIvfPqRefined(full, all, q, "vec_id", "embedding",
      cents, pq2, k = 3, nprobe = 2, shortlist = 12).orderBy("qid", "rank").collect().toSeq
    assert(viaIncr.nonEmpty && viaIncr == viaFull)
    // replay of the same batch bumps the version but changes no rows
    val v3 = Similarity.encodeIntoIvfPqIndex(spark, dir, batch, "vec_id", "embedding", "ingest-1-replay")
    val replayed = graft.sources.SnapshotStore.readVersion(spark, s"$dir/codes", v3)
    assert(v3 == 3L && replayed.count() == 96L)
    assert(replayed.exceptAll(codes).count() == 0)
  }

  test("IVF-PQ occupancy drift: in-distribution ingest stays flat; drifted ingest fires, recall holds") {
    def cluster(i: Long, c: Int): (Long, Seq[Float]) = {
      val base = Array.fill(8)(0.0f)
      base(c * 2) = 10.0f
      base((c * 2 + 1) % 8) += (i % 17) * 0.1f
      (i, base.toSeq)
    }
    val base = (0L until 30L).map(i => cluster(i, (i % 3).toInt)).toDF("vec_id", "embedding")
    val pq = Similarity.trainPq(base, "embedding", m = 4, ksub = 4, seed = 7L)
    val ivf = Similarity.trainIvf(base, "vec_id", "embedding", nlist = 3, seed = 7L)

    // in-distribution ingest: same cluster mix -> occupancy shares flat
    val dirA = s"${tempDir("graft_ivfpq_drift_a")}/index"
    Similarity.saveIvfPqIndex(
      Similarity.encodeWithStoredIndex(base, "vec_id", "embedding", ivf.centroids, pq),
      ivf.centroids, pq, dirA)
    val inDist = (100L until 130L).map(i => cluster(i, (i % 3).toInt)).toDF("vec_id", "embedding")
    Similarity.encodeIntoIvfPqIndex(spark, dirA, inDist, "vec_id", "embedding")
    val flatPsi = Similarity.ivfPqOccupancyDrift(spark, dirA)
      .select("psi_micro").as[Long].head()
    assert(flatPsi < 100000L, s"in-distribution PSI $flatPsi should be < 0.1")

    // drifted ingest: 60 new vectors ALL in cluster 0 -> monitor fires
    val dirB = s"${tempDir("graft_ivfpq_drift_b")}/index"
    Similarity.saveIvfPqIndex(
      Similarity.encodeWithStoredIndex(base, "vec_id", "embedding", ivf.centroids, pq),
      ivf.centroids, pq, dirB)
    val drifted = (200L until 260L).map(i => cluster(i, 0)).toDF("vec_id", "embedding")
    Similarity.encodeIntoIvfPqIndex(spark, dirB, drifted, "vec_id", "embedding")
    val driftTable = Similarity.ivfPqOccupancyDrift(spark, dirB)
    val psi = driftTable.select("psi_micro").as[Long].head()
    assert(psi > 250000L, s"drifted PSI $psi should exceed the 0.25 retrain gate")
    assert(driftTable.count() == 3L)
    // ...while search over the grown index STAYS correct: codes are
    // against the stored geometry, so refine still recovers exact
    // neighbors (recall degrades only as far as the data drifted)
    val (codes, cents, pq2) = Similarity.loadIvfPqIndex(spark, dirB)
    val grown = base.unionByName(drifted)
    val q0 = grown.filter($"vec_id" === 200L)
    // shortlist >= cell size makes refine exact-within-cell, so the
    // check is deterministic under PQ code ties
    val got = Similarity.knnIvfPqRefined(codes, grown, q0, "vec_id", "embedding",
        cents, pq2, k = 3, nprobe = 1, shortlist = 100)
      .orderBy("rank").select("vec_id").as[Long].collect()
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy($"l2".asc, $"vec_id")
    val trueTop = grown.select($"vec_id", $"embedding".as("__cv"))
      .crossJoin(q0.select($"vec_id".as("qid"), $"embedding".as("__qv")))
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id",
        aggregate(zip_with($"__qv".cast("array<double>"), $"__cv".cast("array<double>"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x).as("l2"))
      .withColumn("r", row_number().over(w)).filter($"r" <= 3)
      .orderBy("r").select("vec_id").as[Long].collect()
    assert(got.sameElements(trueTop), s"${got.toSeq} != ${trueTop.toSeq}")
  }

  test("IVF-PQ retrain resets the drift baseline and keeps history readable") {
    def cluster(i: Long, c: Int): (Long, Seq[Float]) = {
      val base = Array.fill(8)(0.0f)
      base(c * 2) = 10.0f
      base((c * 2 + 1) % 8) += (i % 17) * 0.1f
      (i, base.toSeq)
    }
    val dir = s"${tempDir("graft_ivfpq_retrain")}/index"
    val base = (0L until 30L).map(i => cluster(i, (i % 3).toInt)).toDF("vec_id", "embedding")
    val pq = Similarity.trainPq(base, "embedding", m = 4, ksub = 4, seed = 7L)
    val ivf = Similarity.trainIvf(base, "vec_id", "embedding", nlist = 3, seed = 7L)
    Similarity.saveIvfPqIndex(
      Similarity.encodeWithStoredIndex(base, "vec_id", "embedding", ivf.centroids, pq),
      ivf.centroids, pq, dir)
    // drifted ingest fires the monitor...
    val drifted = (200L until 260L).map(i => cluster(i, 0)).toDF("vec_id", "embedding")
    Similarity.encodeIntoIvfPqIndex(spark, dir, drifted, "vec_id", "embedding")
    assert(Similarity.ivfPqOccupancyDrift(spark, dir)
      .select("psi_micro").as[Long].head() > 250000L)
    // ...retrain on the grown corpus — a fresh quantizer and codebooks,
    // re-encoded and committed as new versions: new artifacts, monitor resets
    val grown = base.unionByName(drifted)
    val pq3 = Similarity.trainPq(grown, "embedding", m = 4, ksub = 4, seed = 8L)
    val ivf3 = Similarity.trainIvf(grown, "vec_id", "embedding", nlist = 3, seed = 8L)
    Similarity.saveIvfPqIndex(
      Similarity.encodeWithStoredIndex(grown, "vec_id", "embedding", ivf3.centroids, pq3),
      ivf3.centroids, pq3, dir, meta = "retrain")
    val newV = graft.sources.SnapshotStore.committedVersion(spark, s"$dir/codes").get
    assert(newV == 3L) // v1 build, v2 ingest, v3 retrain
    val reset = Similarity.ivfPqOccupancyDrift(spark, dir, baseVersion = newV)
      .select("psi_micro").as[Long].head()
    assert(reset == 0L, s"fresh baseline should read zero drift, got $reset")
    // search over the retrained index is exact on well-separated data
    val (codes, cents, pq2) = Similarity.loadIvfPqIndex(spark, dir)
    assert(codes.count() == 90L)
    val got = Similarity.knnIvfPqRefined(codes, grown,
        grown.filter($"vec_id" === 0L), "vec_id", "embedding", cents, pq2,
        k = 3, nprobe = 3, shortlist = 100)
      .orderBy("rank").select("vec_id").as[Long].collect()
    // exact L2 top-3 of vec 0 (offset 0): in-cluster offsets nearest
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy($"l2".asc, $"vec_id")
    val trueTop = grown.select($"vec_id", $"embedding".as("__cv"))
      .crossJoin(grown.filter($"vec_id" === 0L)
        .select($"vec_id".as("qid"), $"embedding".as("__qv")))
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id",
        aggregate(zip_with($"__qv".cast("array<double>"), $"__cv".cast("array<double>"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x).as("l2"))
      .withColumn("r", row_number().over(w)).filter($"r" <= 3)
      .orderBy("r").select("vec_id").as[Long].collect()
    assert(got.sameElements(trueTop), s"${got.toSeq} != ${trueTop.toSeq}")
    // pre-retrain history stays time-travelable
    assert(graft.sources.SnapshotStore.readVersion(spark, s"$dir/codes", 1L).count() == 30L)
    assert(graft.sources.SnapshotStore.readVersion(spark, s"$dir/codes", 2L).count() == 90L)
  }

  test("labelCentroidSim: orthogonal and identical label centroids") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),   // centroid (1,0)
      (3L, Seq(0.0f, 2.0f), 1), (4L, Seq(0.0f, 4.0f), 1),   // centroid (0,3)
      (5L, Seq(2.0f, 0.0f), 2)                               // centroid (2,0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidSim(e, "label", "embedding")
      .select("label_a", "label_b", "cosine")
      .as[(Int, Int, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    assert(got((0, 1)) == 0.0)  // orthogonal
    assert(got((0, 2)) == 1.0)  // same direction, different norm
    assert(got((1, 2)) == 0.0)
  }

  test("embeddingDrift: identical snapshots zero; opposite clusters large") {
    val dim = 8
    def vec(seed: Int, flip: Boolean): Seq[Float] =
      (0 until dim).map(j => (((seed * 31 + j * 7) % 13) - 6).toFloat *
        (if (flip) -1f else 1f))
    val a = (1 to 80).map(i => Tuple1(vec(i, flip = false))).toDF("embedding")
    val same = Similarity.embeddingDrift(a, a, "embedding", dim, nPlanes = 4)
      .select("term_micro", "psi_micro").as[(Long, Long)].collect()
    assert(same.forall(t => t._1 == 0L && t._2 == 0L), same.mkString(","))
    // negated vectors flip every hyperplane sign: occupancy is mirrored,
    // so almost every cell is one-sided and PSI is large
    val b = (1 to 80).map(i => Tuple1(vec(i, flip = true))).toDF("embedding")
    val drift = Similarity.embeddingDrift(a, b, "embedding", dim, nPlanes = 4)
      .select("psi_micro").as[Long].head()
    assert(drift > 1000000L, drift.toString)
  }

  test("knnLabelNoise: a mislabeled point in a tight cluster scores 1.0") {
    import org.apache.spark.sql.functions._
    // two tight clusters along different axes; id 5 sits in cluster A
    // but carries label B -> all its neighbors disagree. nPlanes=1 so
    // at most 2 cells; same-axis vectors share a cell for any plane.
    def v(axis: Int, eps: Float): Array[Float] =
      Array.tabulate(4)(j => if (j == axis) 1f else eps)
    val rows = Seq(
      (1L, 0, v(0, 0.01f)), (2L, 0, v(0, 0.02f)), (3L, 0, v(0, 0.03f)),
      (4L, 0, v(0, 0.04f)), (5L, 1, v(0, 0.05f))) // mislabel suspect
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.knnLabelNoise(rows, "vec_id", "label", "embedding",
        dim = 4, k = 3, nPlanes = 1)
      .select("vec_id", "n_neighbors", "disagreement")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.values.forall(_._1 == 3L), got.toString) // cell holds all 5
    assert(got(5L)._2 == 1.0, got.toString) // every neighbor disagrees
    // vec 1's nearest 3 are the eps-closest 2,3,4 (cos decays with
    // eps-distance) — all label 0, so the suspect is NOT its neighbor set
    assert(got(1L)._2 == 0.0, got.toString)
  }

  test("matryoshkaRecall: full-width prefix is perfect, a misleading prefix is not") {
    import org.apache.spark.sql.functions._
    // Query v1 = [1, 0]. Full cosine puts v4/v5 (nearly parallel) on top;
    // the 1-dim prefix of positive scalars ties every sim at 1.0, so the
    // id tiebreak picks {v2, v3} — recall 0 at d=1, 1 at d=2.
    val rows = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 10f)), (3L, Array(1f, 20f)),
      (4L, Array(0.9f, 0.001f)), (5L, Array(0.95f, 0.002f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRecall(rows, rows.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 2, dims = Seq(1, 2))
      .as[(Long, Double)].collect().toMap
    assert(got(2L) == 1.0, got.toString)  // identical scorer at full width
    assert(got(1L) == 0.0, got.toString)  // degenerate prefix loses recall
  }

  test("pc1PowerIteration: rank-1 data recovers its direction and norm") {
    import spark.implicits._
    // rows k·(1,1,1,1): PC1 = (.5,.5,.5,.5), ‖XᵀXv‖ = 2·Σk² = 28·2 = 56
    val df = Seq(1, 2, 3).map(k =>
        (k.toLong, Seq.fill(4)(k.toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pc1PowerIteration(df, "vec_id", "embedding",
        dim = 4, rounds = 3)
      .orderBy("idx")
      .select("idx", "loading", "op_norm")
      .as[(Long, Double, Double)].collect()
    graft.QueryCleanup.drain()
    assert(got.length == 4)
    got.foreach { case (_, l, _) => assert(math.abs(l - 0.5) < 1e-4, l) }
    assert(math.abs(got.head._3 - 56.0) < 0.01, got.head.toString)
    // unit norm
    val n = got.map(r => r._2 * r._2).sum
    assert(math.abs(n - 1.0) < 1e-6, n.toString)
  }

  test("anisotropyResidual: rank-1 data projects fully, residual 0") {
    import spark.implicits._
    // rows k·(1,1,1,1): centered = (k−2)·1 per comp, u = (.5,.5,.5,.5)
    // -> proj = 2(k−2), residual exactly 0
    val df = Seq(1, 2, 3).map(k => (k.toLong, Seq.fill(4)(k.toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.anisotropyResidual(df, "vec_id", "embedding",
        dim = 4, rounds = 3)
      .orderBy("vec_id").select("vec_id", "proj", "resid_norm")
      .as[(Long, Double, Double)].collect()
    graft.QueryCleanup.drain()
    val projs = got.map(_._2)
    assert(math.abs(projs(0) + 2.0) < 1e-3 && math.abs(projs(1)) < 1e-3
      && math.abs(projs(2) - 2.0) < 1e-3, got.mkString(", "))
    assert(got.forall(_._3 < 1e-3), got.mkString(", "))
  }

  test("rrfFusion: overlap wins, integer micro contributions, item ties") {
    import spark.implicits._
    // k0=1: rank 1 -> 500000, rank 2 -> 333333
    val l1 = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("q", "item", "rank")
    val l2 = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q", "item", "rank")
    val got = Similarity.rrfFusion(Seq(l1, l2), "q", "item", "rank",
        k0 = 1, topK = 3)
      .orderBy("fused_rank")
      .select("fused_rank", "item", "rrf_micro")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 11L, 833333L), (2L, 10L, 500000L),
      (3L, 12L, 333333L)), got.mkString(", "))
  }

  test("hammingRerankAudit: full-corpus shortlist reproduces exact cosine top-k") {
    val q = vecs.filter($"vec_id" < 2)
    val exact = Similarity.knnBruteForce(vecs, q, "vec_id", "embedding", 3)
      .select("qid", "rank", "vec_id")
      .as[(Long, Long, Long)].collect().toSet
    // shortlist covers every non-query candidate, so the re-rank IS the
    // exact ranking and the audit's final order must coincide
    val audit = Similarity.hammingRerankAudit(vecs, q, "vec_id", "embedding",
        dim = 3, shortlist = 10, k = 3)
    val got = audit.select("qid", "final_rank", "vec_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == exact, s"got=$got exact=$exact")
    // displacement arithmetic: moved = tier_rank - final_rank on every row
    val rows = audit.select("final_rank", "tier_rank", "moved")
      .as[(Long, Long, Long)].collect()
    assert(rows.forall { case (f, t, m) => m == t - f })
    assert(rows.forall { case (_, t, _) => t >= 1 && t <= 10 })
  }

  test("hammingRerankAudit: rejects a shortlist smaller than k") {
    intercept[IllegalArgumentException] {
      Similarity.hammingRerankAudit(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", dim = 3, shortlist = 2, k = 5)
    }
  }

  test("ivfRecallCurve: full probe = recall 1, recall monotone in nprobe") {
    val ivf = Similarity.trainIvfDeterministic(vecs, "vec_id", "embedding",
      nlist = 2, iters = 4)
    val r = Similarity.ivfRecallCurve(vecs, vecs, "vec_id", "embedding", ivf,
        nprobes = Seq(1, 2), ks = Seq(1, 3))
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => ((x._1, x._2), (x._3, x._4, x._5))).toMap
    assert(r.size == 4, r.toString)
    // probing every cell makes the candidate set the whole corpus:
    // every exact neighbor is recalled, at every k
    assert(r((2L, 1L))._3 == 1.0 && r((2L, 3L))._3 == 1.0, r.toString)
    // fewer probes can only lose candidates
    assert(r((1L, 1L))._3 <= r((2L, 1L))._3 &&
      r((1L, 3L))._3 <= r((2L, 3L))._3, r.toString)
    // hits are exact counts over 6 queries
    assert(r.values.forall(v => v._1 == 6L && v._2 >= 0L && v._2 <= 18L),
      r.toString)
  }

  test("ivfCellBalance: exact concentration arithmetic") {
    val asg = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1)).toDF("vec_id", "cell")
    val idx = Similarity.IvfIndex(asg, spark.emptyDataFrame)
    val r = Similarity.ivfCellBalance(idx).collect().head
    // cell0=3, cell1=1: hhi=(9+1)/16=0.625, effective=1.6, skew=3*2/4=1.5
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L &&
      r.getLong(2) == 3L && r.getLong(3) == 1L, r.toString)
    assert(r.getDouble(4) == 0.625 && r.getDouble(5) == 1.6 &&
      r.getDouble(6) == 1.5, r.toString)
  }
}
