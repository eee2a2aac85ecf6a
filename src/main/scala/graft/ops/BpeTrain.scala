package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge TRAINING (Sennrich et al. 2016)
  * — the learning half of the tokenizer whose apply side is the
  * [[graft.functions.BpeImpl]] kernel. Each round finds the corpus-wide
  * most frequent adjacent symbol pair and merges it everywhere; the
  * ranked pair list IS the merges table a production deployment drops
  * into `graft/bpe_merges.txt`, making the tokenizer end-to-end
  * self-hosted.
  *
  * Topology per round (the q124 heavy-hitter shape):
  *  - state lives as ONE row per DISTINCT word — (word, cnt, syms) —
  *    so all cost scales with VOCABULARY, not corpus size: the corpus
  *    is scanned once to build word counts and never again;
  *  - adjacent-pair counts are an explode + map-side-combined sum over
  *    the vocab table (one small shuffle per round);
  *  - the argmax pair (count desc, then "left right" string asc — the
  *    deterministic, SQL-replayable tie-break) is ONE collected row;
  *  - the merge applies as a per-row array fold (greedy left-to-right,
  *    exactly the kernel's j+=2 pass), a pure projection.
  *
  * Determinism: counts are exact integers and the tie-break is total,
  * so the learned table replays bit-for-bit in any engine — the oracle
  * unrolls the same rounds in SQL. Driver state: one (l, r, n) row per
  * round, never data-sized.
  */
object BpeTrain {

  /** One learned merge: rank (0 = first/best), the pair, and the pair's
    * occurrence count at the round it was chosen. */
  final case class Merge(rank: Int, left: String, right: String, n: Long)

  /** Whitespace-split lowercased word counts — the corpus's only scan. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Greedy left-to-right single-pair merge over a symbol array — the
    * kernel's one-pass walk as a fold: a just-merged symbol can never be
    * the LEFT of another merge in the same pass (l+r != l always), so
    * the fold's last-element check is exact. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** How many top pairs one round's argmax job collects — the batching
    * window. Only a SAFE prefix of these is applied (see [[safeBatch]]);
    * the window just bounds the driver row count per round. */
  private val BatchWindow = 16

  /** The longest prefix of one round's (count desc, "l r" asc)-sorted top
    * pairs that provably replays the SEQUENTIAL merge order when applied
    * together — exactness, not heuristics, so the SQL oracle's one-merge-
    * per-round unroll still matches bit-for-bit:
    *
    *  - members are pairwise SYMBOL-DISJOINT, and no member's symbol
    *    equals another member's concatenation: applying one member can
    *    then neither destroy nor create occurrences of another, so every
    *    member's count is exactly its sequential-round count;
    *  - the last member's count strictly exceeds the first EXCLUDED
    *    pair's (`nextN`): every pair a merge destroys only loses count,
    *    and every pair a merge CREATES (those containing the new `l+r`
    *    symbol) is bounded by the old count of some non-member pair
    *    (a new "x·lr" adjacency was an old "x·l" one) — strictly below
    *    the whole batch, so no new pair can out-rank a member at its
    *    sequential turn (ties included: strictness absorbs them).
    *
    * BpeTrainSpec pins batched ≡ sequential on fixtures that exercise
    * both exclusion reasons. */
  private[graft] def safeBatch(sorted: Seq[(String, String, Long)],
                               nextN: Long): Seq[(String, String, Long)] = {
    // 1) longest DISJOINT prefix, stopping at the first conflicting pair
    //    (no skips — a skipped conflicting pair could morph into a new
    //    pair that outranks a later member)
    val used = scala.collection.mutable.Set.empty[String]
    var j = 0
    var stop = false
    while (j < sorted.length && !stop) {
      val (l, r, _) = sorted(j)
      if (used.contains(l) || used.contains(r) || used.contains(l + r))
        stop = true
      else { used += l; used += r; used += (l + r); j += 1 }
    }
    var batch = sorted.take(j)
    // 2) boundary gap: every member AFTER the first must strictly exceed
    //    the best excluded count (new pairs are bounded by excluded old
    //    counts; strictness absorbs tie-break re-ranking). The first
    //    member alone IS the sequential argmax — always safe.
    def boundary(sz: Int): Long =
      if (sz < sorted.length) sorted(sz)._3 else nextN
    while (batch.size >= 2 && boundary(batch.size) >= 0 &&
           batch.last._3 <= boundary(batch.size))
      batch = batch.dropRight(1)
    if (batch.isEmpty && sorted.nonEmpty) sorted.take(1) else batch
  }

  /** Learn up to `numMerges` ranked merges from the corpus. Stops early
    * when no adjacent pair occurs at least `minCount` times.
    *
    * Round cadence (the 32k-vocab scale path): each cluster round
    * collects the top [[BatchWindow]]+1 pairs, applies the provably-safe
    * batch prefix ([[safeBatch]]) in ONE projection, and checkpoints
    * every `checkpointEvery` rounds instead of every merge — a 32k-merge
    * production vocabulary runs ~5-10× fewer sequential jobs while the
    * learned table stays bit-identical to one-merge-at-a-time training. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L, checkpointEvery: Int = 2): Seq[Merge] =
    train(docs, textCol, numMerges, minCount, checkpointEvery, BatchWindow)

  /** Test seam: `batchWindow = 1` forces one-merge-per-round training —
    * the sequential baseline the batched path must replay bit-for-bit. */
  private[graft] def train(docs: DataFrame, textCol: String, numMerges: Int,
                           minCount: Long, checkpointEvery: Int,
                           batchWindow: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges must be >= 1")
    require(checkpointEvery >= 1, s"checkpointEvery=$checkpointEvery must be >= 1")
    require(batchWindow >= 1, s"batchWindow=$batchWindow must be >= 1")
    val leaves = graft.util.Truncate.leaves()
    var state = leaves.keep(graft.util.Truncate(wordCounts(docs, textCol)
      .withColumn("syms",
        transform(sequence(lit(1), length(col("word"))),
          i => substring(col("word"), i, lit(1))))))
    var roundsSinceCkpt = 0
    val out = Seq.newBuilder[Merge]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val window = state
        .select(col("cnt"), explode(when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>")))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, concat(col("l"), lit(" "), col("r")).asc)
        .limit(batchWindow + 1).collect()
        .map(row => (row.getAs[String]("l"), row.getAs[String]("r"),
          row.getAs[Long]("n")))
        .toSeq
      // members must clear minCount; excluded sub-minCount pairs need no
      // boundary check (their counts — and any new pair they bound — sit
      // strictly below every member already)
      val eligible = window.take(batchWindow).takeWhile(_._3 >= minCount)
      if (eligible.isEmpty) done = true
      else {
        // first count beyond the eligible window (window row batchWindow,
        // or the first sub-minCount row); -1 when nothing was excluded
        val nextN = window.drop(eligible.size).headOption.map(_._3).getOrElse(-1L)
        val batch = safeBatch(eligible, nextN).take(numMerges - k)
        batch.foreach { case (l, r, n) => out += Merge(k, l, r, n); k += 1 }
        val merged = batch.foldLeft(col("syms")) { case (c, (l, r, _)) =>
          applyMerge(c, l, r)
        }
        state = state.withColumn("syms", merged)
        roundsSinceCkpt += 1
        // no checkpoint after the FINAL round — state is never read again
        if (roundsSinceCkpt >= checkpointEvery && k < numMerges) {
          state = leaves.supersede(graft.util.Truncate(state))
          roundsSinceCkpt = 0
        }
      }
    }
    out.result()
  }

  /** [[train]] as a DataFrame — (rank, left, right, n), rank-ordered —
    * the `queries()` surface. */
  def trainDf(docs: DataFrame, textCol: String, numMerges: Int,
              minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, numMerges, minCount)
      .map(m => (m.rank.toLong, m.left, m.right, m.n))
      .toDF("rank", "left", "right", "n")
  }

  /** Apply a LEARNED table to one word — [[graft.functions.BpeImpl]]'s
    * merge loop parameterized by the table (the train→apply round-trip
    * the spec pins). */
  def tokenizeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val ranks = merges.zipWithIndex.map { case ((l, r), i) => (l, r) -> i }.toMap
    var syms = word.map(String.valueOf(_)).toVector
    var cont = true
    while (cont && syms.length > 1) {
      val best = syms.zip(syms.tail).flatMap(p => ranks.get(p)).minOption
      best match {
        case None => cont = false
        case Some(rank) =>
          val (bl, br) = merges(rank)
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == bl && syms(j + 1) == br) {
              out += bl + br; j += 2
            } else { out += syms(j); j += 1 }
          }
          syms = out.result()
      }
    }
    syms
  }
}
