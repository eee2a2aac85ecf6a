package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different words about spark engines here"),
    (5L, "another unrelated document with its own vocabulary entirely")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per duplicate class") {
    val ids = Dedup.exact(docs, "doc_id", "text")
      .as[Long].collect().sorted
    assert(ids.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("shingles builds sorted distinct word n-grams") {
    val sh = docs.filter($"doc_id" === 1)
      .select(Dedup.shingles($"text", 2)).as[Seq[String]].head()
    assert(sh.contains("quick brown") && sh.contains("lazy dog"))
    assert(sh == sh.sorted && sh.distinct.size == sh.size)
    // 9 tokens -> 8 bigrams, one ("the quick"/"the lazy" both start "the ") all distinct here
    assert(sh.size == 8)
  }

  test("shingles of a single-token doc is empty") {
    val sh = Seq((9L, "word")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text", 2)).as[Seq[String]].head()
    assert(sh.isEmpty)
  }

  test("minhashLsh finds exact dups, skips unrelated, orders pairs") {
    val rows = Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 2, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val pairs = rows.map(r => (r._1, r._2)).toSet
    // identical docs share every band deterministically
    assert(pairs.contains((1L, 2L)))
    assert(rows.find(r => (r._1, r._2) == ((1L, 2L))).get._3 == 1.0)
    // docs 4/5 share no shingles with anything -> can never be candidates
    assert(!pairs.exists { case (a, b) => a >= 4L || b >= 4L })
    assert(pairs.forall { case (a, b) => a < b })
    // NOTE: the (1,3) near-dup at J=0.6 may legitimately escape 4x4-band
    // LSH (detect prob ~0.43); exact-vs-LSH agreement is covered by the
    // q35/q36 oracle queries instead.
  }

  test("jaccardSorted is bit-equal to the builtin intersect/union form on sorted sets") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // random-ish sorted distinct shingle arrays incl. boundary overlaps
    val rows = (1 to 200).map { i =>
      val a = (0 until 3 + i % 17).map(j => f"t${(i * 7 + j * 13) % 29}%03d").distinct.sorted
      val b = (0 until 2 + i % 11).map(j => f"t${(i * 5 + j * 3) % 29}%03d").distinct.sorted
      (a, b)
    }.toDF("a", "b")
    val got = rows.select(
      Dedup.jaccardSorted(col("a"), col("b")).as("fast"),
      round(size(array_intersect(col("a"), col("b"))).cast("double")
        / size(array_union(col("a"), col("b"))).cast("double"), 6).as("ref"))
      .as[(Double, Double)].collect()
    got.foreach { case (fast, ref) => assert(fast == ref, s"$fast != $ref") }
  }

  test("size-ratio gate never drops a qualifying pair (pairs unchanged vs no-gate oracle)") {
    // docs 1/2/3 share most shingles (sizes close); 6 is a SHORT doc that
    // collides with 1 on a common shingle but can never reach J>=0.3
    val mixed = docs.union(Seq((6L, "the quick")).toDF("doc_id", "text"))
    val pairs = Dedup.minhashLsh(mixed, "doc_id", "text", shingleN = 2, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair must survive the gate")
    // brute-force exact-jaccard-over-band-candidates reference (no gate):
    // every gated-away pair must fail the threshold anyway
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L),
      "the short doc cannot clear J>=0.3 against full sentences")
  }

  test("minhash signature of identical texts is identical") {
    GraftFunctions.ensureRegistered(spark)
    val sigs = docs.filter($"doc_id".isin(1L, 2L))
      .select(GraftFunctions.minhashSigNative(
        GraftFunctions.phashModArr(Dedup.shingles($"text", 2))))
      .as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == Dedup.NumHashes)
  }

  test("ngramJaccardPairs computes exact jaccard on candidate pairs") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.1)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(got((1L, 2L)) == 1.0)
    // doc1 vs doc3: 8 bigrams each; differ in "the sleepy"/"sleepy dog" vs
    // "the lazy"/"lazy dog" -> shared 6, union 10 -> 0.6
    assert(math.abs(got((1L, 3L)) - 0.6) < 1e-9)
    assert(!got.contains((1L, 4L)))
  }

  test("simhash: identical texts equal, near texts close, disjoint far") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val near = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val far = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(near < far, s"near=$near far=$far")
    // 32-bit domain
    assert(sh.values.forall(v => v >= 0L && v < (1L << 32)))
  }

  test("property: LSH pairs are a subset of exact pairs with equal jaccard") {
    // Random docs from a tiny vocab at several seeds: every pair MinHash+LSH
    // surfaces must also be found by the exact inverted-index join, with the
    // identical jaccard value (LSH may miss pairs - recall < 1 - but must
    // never invent or mis-score one).
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val gen = (1 to 120).map { i =>
      val base = Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, base.mkString(" "))
    }
    val df = gen.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(df, "doc_id", "text", 2, 0.2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val lsh = Dedup.minhashLsh(df, "doc_id", "text", 2, 0.2)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty) // small vocab guarantees some near-dups
    lsh.foreach { case (a, b, j) =>
      assert(exact.contains((a, b)), s"LSH invented pair ($a,$b)")
      assert(exact((a, b)) == j, s"jaccard mismatch for ($a,$b)")
    }
  }

  test("minhashLsh band-join exchanges carry no array payloads") {
    // The 100 TB contract: only (band_idx, band_key, id) rows enter the
    // LSH band self-join; token-set arrays reach a shuffle only on the
    // per-id verification join-backs, never replicated per band.
    withPlainExchanges {
      val plan = Dedup.minhashLsh(docs, "doc_id", "text", 2, 0.3)
        .queryExecution.executedPlan
      val bandEx = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange
          if e.output.exists(_.name == "__bkey") => e
      }
      assert(bandEx.nonEmpty, "expected exchanges keyed on the band key")
      bandEx.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"band-join exchange carries an array payload: ${e.output.map(a => s"${a.name}:${a.dataType}")}")
      }
    }
  }

  test("ngramJaccardPairsPrefix index exchanges carry no array payloads") {
    withPlainExchanges {
      // raw topology (no stats guard) — this test pins the prefix plan shape
      val plan = Dedup.prefixTopology(
        Dedup.shingleHashes(docs, "doc_id", "text", 2, Nil), 0.5, Nil)
        .queryExecution.executedPlan
      val idxEx = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange
          if e.output.exists(_.name == "__s") => e
      }
      assert(idxEx.nonEmpty, "expected exchanges keyed on the prefix shingle hash")
      idxEx.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"prefix-index exchange carries an array payload: ${e.output.map(a => s"${a.name}:${a.dataType}")}")
      }
    }
  }

  /** Run `body` with AQE and broadcast joins disabled so every join
    * materializes a plain ShuffleExchange the plan assertions can inspect. */
  private def withPlainExchanges[T](body: => T): T = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("property: prefix and count n-gram strategies agree exactly") {
    // Random docs from a tiny vocab: the PPJoin prefix-filtered candidate
    // topology must produce the identical pair set and jaccard values as
    // the count-based full inverted index at the same threshold.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val gen = (1 to 100).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = gen.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val cnt = Dedup.ngramJaccardPairsCount(df, "doc_id", "text", 2, t)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      // raw topology, bypassing the stats guard: this must hold even in
      // regimes where the guard would choose the count path
      val pref = Dedup.prefixTopology(
        Dedup.shingleHashes(df, "doc_id", "text", 2, Nil), t, Nil)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(pref == cnt, s"strategy mismatch at t=$t")
    }
  }

  test("stats guard: degenerate shingle domain falls back to count topology") {
    // 200 docs over a 3-word vocab: at most 9 distinct bigrams, mean
    // posting-list length ~200 >> MaxMeanPostingFreq. The public prefix
    // entry point must refuse the prefix topology (whose plan contains
    // the row_number Window) and produce count-path results.
    val rnd = new scala.util.Random(3)
    val vocab = Vector("aa", "bb", "cc")
    val df = (1 to 200).map { i =>
      (i.toLong, Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val guarded = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", 2, 0.8)
    val hasWindow = guarded.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty
    assert(!hasWindow, "degenerate regime must not build the prefix window plan")
    val cnt = Dedup.ngramJaccardPairsCount(df, "doc_id", "text", 2, 0.8)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(guarded.as[(Long, Long, Double)].collect().sorted.toSeq == cnt)
  }

  test("stats guard: healthy shingle domain keeps the prefix topology") {
    // The 5-doc fixture has ~unique bigrams per doc (mean frequency ~1):
    // the guard must keep the prefix plan (row_number Window present).
    val guarded = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 2, 0.8)
    val hasWindow = guarded.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty
    assert(hasWindow, "healthy regime must use the prefix window plan")
  }

  test("stats guard: scoped call routes each scope's topology independently") {
    // scope "deg": 60 docs over a 3-word vocab (degenerate — mean posting
    // frequency >> MaxMeanPostingFreq); scope "ok": the healthy 5-doc
    // fixture (~unique bigrams). The guard must send "deg" to the count
    // topology and KEEP the prefix topology for "ok" (union plan), not
    // demote the healthy scope globally.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc")
    val degen = (101 to 160).map { i =>
      (i.toLong, Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "), "deg")
    }.toDF("doc_id", "text", "src")
    val healthy = docs.withColumn("src", lit("ok"))
    val df = degen.unionByName(healthy)
    val guarded = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", 2, 0.8,
      partitionCols = Seq("src"))
    val plan = guarded.queryExecution.optimizedPlan
    val hasUnion = plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.nonEmpty
    val hasWindow = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.nonEmpty
    assert(hasUnion, "mixed regimes must split into a per-scope union plan")
    assert(hasWindow, "the healthy scope must keep the prefix window plan")
    val cnt = Dedup.ngramJaccardPairsCount(df, "doc_id", "text", 2, 0.8,
      partitionCols = Seq("src"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(guarded.as[(Long, Long, Double)].collect().sorted.toSeq == cnt)
  }

  test("simhashPairs pairs the duplicate class at distance 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
  }

  test("contaminatedIds flags exactly the train docs sharing an n-gram with bench") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),      // shares 3-gram "alpha beta gamma"
      (2L, "epsilon zeta eta theta"),      // clean
      (3L, "iota alpha beta gamma")        // shares the same 3-gram mid-doc
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val flagged = Dedup.contaminatedIds(train, bench, "doc_id", "text", n = 3)
      .as[Long].collect().toSet
    assert(flagged == Set(1L, 3L))
    val clean = Dedup.decontaminate(train, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L))
  }

  test("ingestDedup rejects corpus-seen and in-batch-later content") {
    val corpus = Seq((1L, "old doc one"), (2L, "old doc two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "brand new"),   // accept
      (11L, "old doc one"), // in corpus -> reject
      (12L, "brand new"),   // in-batch dup of 10 -> reject
      (13L, "also new")     // accept
    ).toDF("doc_id", "text")
    val accepted = Dedup.ingestDedup(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(10L, 13L))
  }

  test("dedupClusters labels components with the min reachable id") {
    // components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,6}; pair order irrelevant
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // canonical-keep composition: one survivor per cluster
    val survivors = got.filter { case (id, c) => id == c }.keySet
    assert(survivors == Set(1L, 5L))
  }

  test("dedupClusters converges on a 200-node chain (diameter 199) within the round cap") {
    // plain min-label propagation needs diameter rounds (199 > the cap of
    // 20); pointer jumping must converge in ~log2(199) ~ 8-10 rounds
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(chain).as[(Long, Long)].collect()
    assert(got.length == 200)
    assert(got.forall(_._2 == 1L), "every chain node must label to the min id 1")
  }

  test("editDistancePairs finds exactly the ed<=1 pairs: sub, ins, del, equal-dedup") {
    val df = Seq(
      "small bolt", "smoll bolt",  // substitution
      "small bolts",               // insertion vs "small bolt"
      "mall bolt",                 // deletion vs "small bolt"
      "blue rod", "blue rod",      // duplicates collapse, no self-pair
      "totally different"
    ).toDF("p_name")
    val got = Dedup.editDistancePairs(df, "p_name")
      .select("name_a", "name_b", "dist").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2)).toSet
    assert(got == Set(
      ("small bolt", "smoll bolt"),
      ("small bolt", "small bolts"),
      ("mall bolt", "small bolt")),
      got.toString)
    // the naive quadratic join agrees (lossless blocking)
    val names = df.select("p_name").distinct()
    val naive = names.as("a").crossJoin(names.as("b"))
      .filter($"a.p_name" < $"b.p_name" &&
        levenshtein($"a.p_name", $"b.p_name") <= 1)
      .select($"a.p_name", $"b.p_name").as[(String, String)].collect().toSet
    assert(naive == got)
  }

  test("editDistancePairs maxDist=2: two-deletion blocking is lossless vs the quadratic join") {
    // all four edit shapes at distance 2, plus boundary cases (ed exactly
    // 3 excluded; empty and 1-char strings must not crash the deletion
    // lambda), plus a fuzzed batch compared against brute force
    val fixed = Seq("abcdef", "abXdYf", // 2 substitutions
      "abdef",    // 1 deletion (also ed1 to abcdef)
      "abef",     // 2 deletions vs abcdef
      "abcdefgh", // 2 insertions vs abcdef
      "aXcdeYgh", // vs abcdefgh: 2 subs; vs abcdef: 4 — must NOT pair
      "zzzzzz", "a", "", "ab")
    val fuzz = (1 to 120).map(i =>
      ("supplier" + (i % 40)).take(4 + i % 8) + (i % 13))
    val df = (fixed ++ fuzz).toDF("nm")
    val got = Dedup.editDistancePairs(df, "nm", maxDist = 2)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    val names = df.select("nm").distinct()
    val naive = names.as("a").crossJoin(names.as("b"))
      .filter($"a.nm" < $"b.nm" && levenshtein($"a.nm", $"b.nm") <= 2)
      .select($"a.nm", $"b.nm").as[(String, String)].collect().toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
    assert(got.contains(("abcdef", "abef")) && got.contains(("abcdef", "abcdefgh")))
    assert(!got.contains(("aXcdeYgh", "abcdef")))
  }

  test("duplicateSpans flags docs repeating an n-token window, first occurrence exempt") {
    val df = Seq(
      (1L, "a b c d e f g h"),          // source of the window
      (2L, "x y a b c d e z"),          // shares 5-gram "a b c d e" -> dup
      (3L, "p q r s t u v w"),          // unique -> absent from output
      (4L, "m n m n m n m n m n"),      // self-repetition: "m n m n m" at 0,2,4,6
      (5L, "a b c")                     // shorter than the window -> no rows
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, "doc_id", "text", n = 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(1L), "first occurrence must not be flagged")
    assert(!got.contains(3L) && !got.contains(5L))
    // doc 2: windows at pos 0..3; only "a b c d e" (pos 2) repeats doc 1's
    assert(got(2L) == (4L, 1L))
    // doc 4: 6 windows, alternating content -> positions 2..5 repeat 0/1
    assert(got(4L) == (6L, 4L))
  }

  test("duplicateSpans: IntegerType ids beyond 2^11 keep first-occurrence order") {
    // pre-fix, the argmin key multiplied in the id's NATIVE 32-bit type:
    // id * 2^20 wraps at id >= 2048 under non-ANSI eval, so a large-id
    // doc could wrap NEGATIVE and steal "first occurrence" from doc 7.
    val df = Seq(
      (7, "a b c d e f g h"),
      (1000000, "x y a b c d e z")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, "doc_id", "text", n = 5)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(7), "low id is the first occurrence")
    assert(got(1000000) == (4L, 1L))
    // non-integral id columns are rejected eagerly
    val bad = intercept[IllegalArgumentException] {
      Dedup.duplicateSpans(df.withColumn("doc_id", $"doc_id".cast("string")),
        "doc_id", "text", n = 5)
    }
    assert(bad.getMessage.contains("integral"))
  }

  test("dedupClustersStar matches pointer jumping on components, chains, and random graphs") {
    // small multi-component graph
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val star = Dedup.dedupClustersStar(pairs).as[(Long, Long)].collect().toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // 300-node chain: diameter 299, where per-round label propagation
    // would need 299 rounds — alternation must finish inside the cap
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gotChain = Dedup.dedupClustersStar(chain).as[(Long, Long)].collect()
    assert(gotChain.length == 300 && gotChain.forall(_._2 == 1L))
    // deterministic pseudo-random graph: star and pointer jumping must
    // produce the identical label table
    val rnd = (1 to 400).map { i =>
      val a = (i * 7919L) % 97; val b = (i * 104729L) % 97
      (a + 1, b + 1)
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val viaStar = Dedup.dedupClustersStar(rnd).as[(Long, Long)].collect().toMap
    val viaJump = Dedup.dedupClusters(rnd).as[(Long, Long)].collect().toMap
    assert(viaStar == viaJump)
  }

  test("paragraphDedup keeps first occurrence corpus-wide and reassembles in order") {
    val df = Seq(
      (1L, "alpha\n\nbeta\n\ngamma"),
      (2L, "beta\n\ndelta"),        // beta already in doc 1 -> drops
      (3L, "alpha\n\nbeta"),        // everything duplicate -> doc vanishes
      (4L, "epsilon\n\n\n\nzeta")   // empty paragraph from \n{4} ignored
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "alpha\n\nbeta\n\ngamma")
    assert(got(2L) == "delta")
    assert(!got.contains(3L))
    assert(got(4L) == "epsilon\n\nzeta")
    // within-doc repetition also collapses to the first position
    val rep = Seq((7L, "x\n\nx\n\ny")).toDF("doc_id", "text")
    val g2 = Dedup.paragraphDedup(rep, "doc_id", "text").as[(Long, String)].collect().toMap
    assert(g2(7L) == "x\n\ny")
  }

  test("sortedNeighborPairs emits every within-w pair of the global order, across buckets") {
    import spark.implicits._
    // keys k01..k12; bucket = first 2 chars of a 3-char key prefix splits
    // the order into uneven runs, so several pairs straddle boundaries
    val rows = (1 to 12).map(i => (i.toLong, f"k$i%02d")).toDF("id", "key")
    val got = Dedup.sortedNeighborPairs(rows, "id", "key", w = 3,
        bucketExpr = substring(col("key"), 1, 2))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expect = (for {
      a <- 1 to 12; b <- a + 1 to math.min(a + 3, 12)
    } yield (a.toLong, b.toLong)).toSet
    assert(got == expect)
    // partitioning-independent
    val got2 = Dedup.sortedNeighborPairs(rows.repartition(7), "id", "key", 3,
        substring(col("key"), 1, 2))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got2 == expect)
  }

  test("sortedNeighborPairs: null keys drop; w=1 chains adjacent rows only") {
    import spark.implicits._
    val rows = Seq((1L, Some("a")), (2L, None), (3L, Some("b")), (4L, Some("c")))
      .toDF("id", "key")
    val got = Dedup.sortedNeighborPairs(rows, "id", "key", w = 1,
        bucketExpr = lit(0))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (3L, 4L)))
  }

  test("crossNearDup finds A-B pairs only and matches union-minhashLsh cross pairs") {
    import spark.implicits._
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely unrelated text about spark engines"),
      (6L, "another corpus document with no twin at all here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // dup of 2
      (3L, "the quick brown fox jumps over the sleepy dog"), // near-dup of 2
      (5L, "fresh incoming content sharing nothing either")
    ).toDF("doc_id", "text")
    val got = Dedup.crossNearDup(corpus, batch, "doc_id", "text", 2, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((2L, 1L))) // the exact twin always band-collides
    assert(got.forall { case (a, b) => a % 2 == 0 && b % 2 == 1 })
    // composition equivalence: union minhashLsh restricted to cross pairs
    val union = Dedup.minhashLsh(corpus.unionByName(batch), "doc_id", "text", 2, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unionCross = union.collect {
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (a, b)
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (b, a)
    }
    assert(got == unionCross)
  }

  test("containmentPairs: directional, catches the quote Jaccard misses") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // 3 bigrams, all inside doc 2
      (2L, "intro words alpha beta gamma delta plus a long tail of extra content here"),
      (3L, "totally different text about other things")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 2, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // 1 ⊂ 2 at containment 1.0; the reverse direction is far below 0.9;
    // Jaccard(1,2) = 3/13 would never flag this pair
    assert(got == Set((1L, 2L, 1.0)), got.toString)
    val jac = Dedup.ngramJaccardPairsCount(docs, "doc_id", "text", 2, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("containmentPairs: both directions emitted for mutual near-twins") {
    val docs = Seq(
      (1L, "one two three four five"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 2, 0.7)
      .as[(Long, Long, Double)].collect().toMap2
    assert(got.contains((1L, 2L)) && got.contains((2L, 1L)), got.toString)
    assert(got((1L, 2L)) == 1.0) // all 4 of doc 1's bigrams are in doc 2
    assert(got((2L, 1L)) == 0.8) // 4 of doc 2's 5
  }

  test("winnowFingerprints: guarantee, density, short-doc behavior") {
    val k = 3; val w = 4
    // two docs sharing a run of w+k-1 = 6 words MUST share a fingerprint
    val run = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (1L, s"intro words here $run trailing tail tokens follow now"),
      (2L, s"$run other unrelated closing vocabulary appears here instead"),
      (3L, "totally disjoint content with zero overlapping grams at all")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k, w)
    val byDoc = fp.groupBy("doc_id").agg(collect_set($"fp_hash").as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty, "guarantee violated")
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty)
    // density: selected windows never exceed gram count, and a doc with
    // fewer than w grams still fingerprints (whole-doc window at pos=1)
    val tiny = Seq((9L, "one two three four")).toDF("doc_id", "text") // 2 grams < w
    assert(Dedup.winnowFingerprints(tiny, "doc_id", "text", k, w).count() == 1)
    // below k tokens: no grams, no fingerprints
    val sub = Seq((8L, "one two")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(sub, "doc_id", "text", k, w).count() == 0)
  }

  test("winnowOverlapPairs: identical docs overlap 1.0; maxDf drops boilerplate") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "entirely different text with no shared trigram content here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowOverlapPairs(d, "doc_id", "text", 3, 4, minShared = 1)
      .select("id_a", "id_b", "overlap").as[(Long, Long, Double)].collect().toMap2
    assert(got.keySet == Set((1L, 2L)) && got((1L, 2L)) == 1.0, got.toString)
    // a fingerprint present in every doc is boilerplate: maxDf=1 kills all pairs
    val boiler = Seq.tabulate(4)(i =>
      (i.toLong, s"shared boilerplate header line number unique$i tail"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowOverlapPairs(boiler, "doc_id", "text", 3, 4,
      minShared = 1, maxDf = 1).count() == 0)
  }

  test("winnowOverlapPairs: overlap is measured within the retained fingerprint space") {
    // docs 1 and 2 are identical and MOSTLY boilerplate shared with six
    // other docs; with maxDf=2 the boilerplate fingerprints drop, and
    // overlap must still be 1.0 over what remains — a denominator counted
    // BEFORE the cap would deflate exactly these boilerplate-heavy pairs
    val boiler = "common header text repeated across every document in " +
      "this corpus for padding and more padding lines of the same header"
    val d = (Seq(
        (1L, s"$boiler unique pair signature alpha beta gamma"),
        (2L, s"$boiler unique pair signature alpha beta gamma")) ++
      Seq.tabulate(6)(i => (10L + i, s"$boiler distinct tail number$i")))
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlapPairs(d, "doc_id", "text", 3, 4,
        minShared = 1, maxDf = 2)
      .select("id_a", "id_b", "overlap").as[(Long, Long, Double)].collect().toMap2
    assert(got.get((1L, 2L)).contains(1.0), got.toString)
  }

  test("sharedShingleDocs: only docs sharing an n-gram with ANOTHER doc") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "b c d"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.sharedShingleDocs(df, "doc_id", "text", n = 2)
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L), got.toString)
  }

  private implicit class PairMap(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("lshBandRecallAudit: exact truth counts and recall arithmetic") {
    import org.apache.spark.sql.functions.lit
    val d = docs.withColumn("source", lit("s"))
    val r = Dedup.lshBandRecallAudit(d, "doc_id", "text", shingleN = 2,
      threshold = 0.3, partitionCols = Seq("source")).collect().head
    val (nTrue, nCaught, nMissed) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // exact bigram truth at 0.3: (1,2) J=1, (1,3) and (2,3) at J=0.6
    assert(nTrue == 3L, s"nTrue=$nTrue")
    // the identical pair shares every band deterministically
    assert(nCaught >= 1L && nCaught <= nTrue)
    assert(nMissed == nTrue - nCaught)
    val recall = r.getDouble(3)
    assert(recall ==
      BigDecimal(nCaught.toDouble / nTrue)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"recall=$recall caught=$nCaught")
    // determinism: the audit is a pure function of the corpus
    val again = Dedup.lshBandRecallAudit(d, "doc_id", "text", shingleN = 2,
      threshold = 0.3, partitionCols = Seq("source")).collect().head
    assert(again.getLong(1) == nCaught)
  }

  test("lshBandPrecisionAudit: counts consistent and verified == minhashLsh pairs") {
    val r = Dedup.lshBandPrecisionAudit(docs, "doc_id", "text", shingleN = 2,
      threshold = 0.3).collect().head
    val (nCand, nVer, nWasted) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nCand >= nVer && nWasted == nCand - nVer, r.toString)
    // identical docs collide in every band, so the candidate surface
    // and the verified set are both non-empty on this fixture
    assert(nVer >= 1L, r.toString)
    // the deployed tier's output pairs ARE the verified candidates
    // (its size-ratio gate only prunes non-verifying pairs), so the
    // audit's n_verified must equal minhashLsh's pair count exactly
    val lshPairs = Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 2,
      threshold = 0.3).count()
    assert(nVer == lshPairs, s"n_verified=$nVer lsh=$lshPairs")
    val precision = r.getDouble(3)
    assert(precision ==
      BigDecimal(nVer.toDouble / nCand)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"precision=$precision")
  }

  test("dedupThresholdCurve: monotone, consistent with the precision audit") {
    val r = Dedup.dedupThresholdCurve(docs, "doc_id", "text", shingleN = 2,
      thresholdsMicro = Seq(300000L, 700000L, 1000000L)).collect()
    assert(r.length == 3, r.mkString(";"))
    // n_pairs non-increasing in threshold
    assert(r(0).getLong(1) >= r(1).getLong(1) &&
      r(1).getLong(1) >= r(2).getLong(1), r.mkString(";"))
    // the 0.3 point must equal the precision audit's n_verified (same
    // candidate surface, same verification)
    val ver = Dedup.lshBandPrecisionAudit(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.3).collect().head.getLong(1)
    assert(r(0).getLong(1) == ver, s"curve=${r(0)} audit=$ver")
    // the identical pair (J = 1.0) survives even threshold 1.0
    assert(r(2).getLong(1) >= 1L, r(2).toString)
    // each counted pair contributes at least its threshold in micro
    r.foreach(row => assert(
      row.getLong(2) >= row.getLong(1) * row.getLong(0) / 1000000L,
      row.toString))
  }

  test("splitLeakageAudit: identical docs straddling the hash split all leak") {
    import org.apache.spark.sql.functions.col
    val corpus = (1L to 40L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val r = Dedup.splitLeakageAudit(corpus, "doc_id", "text", shingleN = 2,
      threshold = 0.3, trainFraction = 0.8).collect().head
    // derive the split from the engine's own hash protocol
    val buckets = corpus.select(col("doc_id"),
        Sampling.bucket(col("doc_id"), "graft-sample").as("b"))
      .as[(Long, Long)].collect()
    val nTrain = buckets.count(_._2 < 800000L).toLong
    val nTest = buckets.count(_._2 >= 800000L).toLong
    assert(nTrain > 0 && nTest > 0, s"degenerate split $nTrain/$nTest")
    assert(r.getLong(0) == nTrain && r.getLong(1) == nTest, r.toString)
    // every cross pair is an identical-doc pair (J = 1): all leak
    assert(r.getLong(2) == nTrain * nTest, r.toString)
    assert(r.getLong(3) == nTest, r.toString)
    assert(r.getDouble(4) == 1.0, r.toString)
  }
}
