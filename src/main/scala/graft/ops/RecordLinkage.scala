package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter, "A
  * Theory for Record Linkage", JASA 1969) — the statistical layer on top
  * of the blocking/similarity machinery the dedup suite already has
  * (sorted neighborhood q142, Jaro-Winkler dictionary join, deletion
  * neighborhoods). Each comparison field f has match/unmatch agreement
  * probabilities (m_f, u_f): the probability the field agrees given the
  * pair IS / IS NOT the same entity. A pair's composite score is the
  * log-likelihood ratio
  *
  *   score = Σ_f  agree_f ? log2(m_f / u_f) : log2((1−m_f) / (1−u_f))
  *
  * — positive evidence for discriminating fields that agree, negative
  * for ones that don't. Pairs above an upper threshold are links, below
  * a lower one non-links, between the two clerical-review candidates
  * (the classic three-band decision rule).
  *
  * Scale shape: candidate pairs come from a BLOCKED equi-join (shuffle
  * on the block key, never all-pairs); agreement tests and the weight
  * sum are per-row codegen'd expressions, so cost is O(candidate
  * surface) = Σ_blocks |A_b|·|B_b|. Skewed blocks are ordinary join skew
  * — AQE split or [[Skew.saltedJoin]] apply unchanged. The weights are
  * driver-side constants (log2 evaluated once in Scala), which also
  * makes a SQL oracle bit-exact: the literals are inlined, not
  * recomputed by a different libm.
  */
object RecordLinkage {

  /** One comparison field: a boolean agreement expression over the
    * blocked-join row (reference a-side/b-side columns by their — must
    * be distinct — names) and its (m, u) probabilities. */
  final case class Field(name: String, agree: Column, m: Double, u: Double) {
    require(m > 0 && m < 1, s"field $name: m=$m out of (0,1)")
    require(u > 0 && u < 1, s"field $name: u=$u out of (0,1)")
    require(m > u, s"field $name: m=$m must exceed u=$u (else the field " +
      "is anti-discriminating and the weights flip sign)")
    /** log2 agreement weight (positive). */
    def agreeWeight: Double = math.log(m / u) / math.log(2.0)
    /** log2 disagreement weight (negative). */
    def disagreeWeight: Double = math.log((1.0 - m) / (1.0 - u)) / math.log(2.0)
  }

  /** Score every blocked candidate pair: inner-join `a` and `b` on the
    * equal-named `blockCols`, append `fs_score` (6 dp). Callers rename
    * payload columns to distinct names upstream and threshold the
    * result ([[classify]] for the three-band rule). */
  def scoreBlocked(a: DataFrame, b: DataFrame, blockCols: Seq[String],
                   fields: Seq[Field]): DataFrame = {
    require(blockCols.nonEmpty, "blocked linkage needs at least one block column")
    require(fields.nonEmpty, "need at least one comparison field")
    a.join(b, blockCols).withColumn("fs_score", round(scoreExpr(fields), 6))
  }

  /** The composite log-likelihood-ratio expression over a joined pair
    * row — shared by the full-product and capped scoring paths. */
  private def scoreExpr(fields: Seq[Field]): Column = {
    require(fields.nonEmpty, "need at least one comparison field")
    fields.map(f =>
        when(f.agree, lit(f.agreeWeight)).otherwise(lit(f.disagreeWeight)))
      .reduce(_ + _)
  }

  /** [[scoreBlocked]] with a HOT-BLOCK cap — the guard that keeps one
    * skewed block from owning the job at 100 TB. The FS candidate
    * surface is Σ_blocks |A_b|·|B_b| and nothing in plain blocking
    * bounds a hot block (a dense city, a default birthdate): at 10×
    * data each block densifies 10× and its product grows 100×. Here
    * blocks whose full product exceeds `maxBlockPairs` switch to
    * SORTED-NEIGHBORHOOD comparison within the block (q142's
    * rank-offset machinery, [[Ranking.groupRowNumber]]): both sides
    * union into one block-scoped order over their sort keys and only
    * pairs within `w` positions compare — O((|A_b|+|B_b|)·w) per hot
    * block instead of |A_b|·|B_b|. Cold blocks keep the exact full
    * product, so below the cap the output is IDENTICAL to
    * [[scoreBlocked]].
    *
    * The sorted-neighborhood tradeoff is explicit: a true match whose
    * sort keys land more than `w` apart inside a hot block is missed —
    * pick sort keys that collate matches adjacently (the name the
    * fields compare by, a normalized address), exactly as q142 does.
    * `sortKeyA`/`sortKeyB` are per-side EXPRESSIONS of one common type;
    * ranking uses that type's native ordering (a numeric key orders
    * numerically — don't render it to a string).
    * `snBucket` optionally parallelizes the in-block ranking (a
    * monotone prefix of the sort key); the default single bucket per
    * block is fine while hot blocks sort in one task's memory.
    *
    * Output schema matches [[scoreBlocked]] (blockCols, a-payload,
    * b-payload, fs_score). `idA`/`idB` must be unique row keys. */
  def scoreBlockedCapped(a: DataFrame, b: DataFrame, blockCols: Seq[String],
                         fields: Seq[Field], idA: String, idB: String,
                         sortKeyA: Column, sortKeyB: Column,
                         maxBlockPairs: Long, w: Int = 10,
                         snBucket: Column = lit(0)): DataFrame = {
    require(maxBlockPairs >= 1, s"maxBlockPairs=$maxBlockPairs must be >= 1")
    require(w >= 1, s"window of $w neighbors is empty")
    val bc = blockCols.map(col)
    // per-block side counts in ONE pass (union + conditional sums — no
    // join); a block absent from either side has a zero product and is
    // never hot, which matches "only blocks present on BOTH sides matter"
    val hotAll = a.select(bc :+ lit(0).as("__side"): _*)
      .unionByName(b.select(bc :+ lit(1).as("__side"): _*))
      .groupBy(bc: _*)
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__nb"))
      .filter(col("__na").cast("decimal(38,0)") * col("__nb") > maxBlockPairs)
      .select(bc: _*)
    // EAGER gate (one aggregation job, short-circuiting take(1)): with no
    // hot block the whole anti-join/rank/union machinery would be plan
    // deadweight — the common case keeps scoreBlocked's exact plan, and
    // only an actually-skewed input pays for the capped topology
    if (hotAll.isEmpty) return scoreBlocked(a, b, blockCols, fields)
    val hot = hotAll.persist()
    graft.QueryCleanup.register(() => hot.unpersist())
    // cold path: the exact full product, hot blocks excluded
    val cold = scoreBlocked(a.join(broadcast(hot), blockCols, "left_anti"),
      b.join(broadcast(hot), blockCols, "left_anti"), blockCols, fields)
    // hot path: block-scoped sorted neighborhood over the union of sides
    val slim = a.join(broadcast(hot), blockCols, "left_semi")
      .select(bc ++ Seq(sortKeyA.as("__sk"),
        col(idA).as("__rid"), lit(0).as("__side")): _*)
      .unionByName(b.join(broadcast(hot), blockCols, "left_semi")
        .select(bc ++ Seq(sortKeyB.as("__sk"),
          col(idB).as("__rid"), lit(1).as("__side")): _*))
    val ranked = Ranking.groupRowNumber(slim, blockCols,
      Seq("__sk", "__side", "__rid"), snBucket, "__g")
    val succ = ranked.select(bc ++ Seq(col("__side").as("__side_l"),
        col("__rid").as("__rid_l"),
        explode(sequence(col("__g") + 1, col("__g") + w)).as("__g")): _*)
    val pairs = succ.join(ranked, blockCols :+ "__g")
      .filter(col("__side_l") =!= col("__side"))
      .select(
        when(col("__side_l") === 0, col("__rid_l")).otherwise(col("__rid"))
          .as(idA),
        when(col("__side_l") === 0, col("__rid")).otherwise(col("__rid_l"))
          .as(idB))
    // pairs → payloads by unique id (never re-forming the block
    // product); the b side drops its block columns — the pair's block
    // is the a side's by construction
    val hotScored = pairs
      .join(a, Seq(idA)).join(b.drop(blockCols: _*), Seq(idB))
      .withColumn("fs_score", round(scoreExpr(fields), 6))
    cold.unionByName(hotScored.select(cold.columns.map(col).toSeq: _*))
  }

  /** Three-band decision rule: `link` at or above `upper`, `non_link`
    * below `lower`, `review` between. */
  def classify(scored: DataFrame, upper: Double, lower: Double): DataFrame = {
    require(upper >= lower, s"upper=$upper must be >= lower=$lower")
    scored.withColumn("decision",
      when(col("fs_score") >= upper, lit("link"))
        .when(col("fs_score") < lower, lit("non_link"))
        .otherwise(lit("review")))
  }

  /** End-to-end entity resolution: blocked FS scoring → link pairs →
    * connected components → one canonical `entity_id` per RECORD. Link
    * transitivity is what scoring alone cannot give (A links B, B links
    * C ⇒ one entity even if A-C never met in a block); the closure runs
    * on the diameter-independent large-star/small-star loop
    * ([[Dedup.dedupClustersStar]] — the 100 TB-correct construction),
    * and the canonical id is the component minimum. Records in no link
    * are their own entity, so the output covers the full id universe.
    *
    * Scale shape: the blocked join is q164's candidate surface; the
    * closure exchanges 8-byte id pairs; the final assignment is one
    * left join of the id universe against the component labels.
    *
    * Hot-block guard: with `maxBlockPairs` set (and `snKeys` naming the
    * per-side sort keys), scoring runs through [[scoreBlockedCapped]] —
    * blocks past the cap compare by sorted neighborhood instead of the
    * full product, so one dense block can never own the job. Below the
    * cap the result is identical to the unbounded path. */
  def resolveEntities(a: DataFrame, b: DataFrame, blockCols: Seq[String],
                      fields: Seq[Field], idA: String, idB: String,
                      upper: Double,
                      maxBlockPairs: Long = Long.MaxValue,
                      snKeys: Option[(Column, Column)] = None,
                      snWindow: Int = 10): DataFrame = {
    val scored =
      if (maxBlockPairs == Long.MaxValue) scoreBlocked(a, b, blockCols, fields)
      else {
        val (ka, kb) = snKeys.getOrElse(throw new IllegalArgumentException(
          "maxBlockPairs set but no snKeys (per-side sort keys) given"))
        scoreBlockedCapped(a, b, blockCols, fields, idA, idB, ka, kb,
          maxBlockPairs, snWindow)
      }
    val links = scored
      .filter(col("fs_score") >= upper)
      .select(col(idA), col(idB))
    val labels = Dedup.dedupClustersStar(links, idA, idB)
    val ids = a.select(col(idA).as("id"))
      .unionByName(b.select(col(idB).as("id")))
      .distinct()
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("entity_id"))
  }
}
