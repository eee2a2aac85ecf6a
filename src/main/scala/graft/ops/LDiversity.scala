package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** l-diversity: the sensitive-attribute hardening of k-anonymity
  * (Machanavajjhala, Kifer, Gehrke & Venkitasubramaniam, "ℓ-Diversity:
  * Privacy Beyond k-Anonymity", ACM TKDD 2007 — public paper). A
  * k-anonymous equivalence class still leaks the sensitive value when the
  * whole class SHARES it (the homogeneity attack the reference's
  * suppression pipelines, naive-suppresion.py:31-40, cannot prevent);
  * l-diversity additionally requires every class to carry at least l
  * "well-represented" sensitive values. Implemented in both published
  * instantiations: DISTINCT l-diversity (>= l distinct sensitive values
  * per class) and ENTROPY l-diversity (Shannon entropy of the in-class
  * sensitive distribution >= ln(l)).
  *
  * Scale: the audit is a TWO-LEVEL aggregation — records reduce to one
  * row per (class, sensitive value) on the first shuffle (map-side
  * partial counts), and the second shuffle regroups those already-reduced
  * cells by class. Entropy comes closed-form from the cell counts
  * (H = ln(n) - Σ c·ln(c) / n), so no per-record pass ever sees the
  * distribution. Suppression is the audit plus one semi-join whose build
  * side holds one row per DIVERSE class — Catalyst/AQE broadcasts it when
  * it fits, exactly the [[KAnonymity.suppressSemiJoin]] topology.
  */
object LDiversity {

  /** In-class Shannon entropy, closed form over cell counts:
    * H = ln(total) - Σ cnt·ln(cnt) / total (natural log). */
  private def entropyCol(sumClogC: Column, total: Column): Column =
    log(total) - (sumClogC / total)

  /** Per-equivalence-class diversity audit: class size (`grp_cnt`),
    * distinct sensitive count (`l_distinct`), and in-class sensitive
    * entropy in nats (`entropy`, unrounded — callers round at the edge).
    */
  def groupDiversity(df: DataFrame, qis: Seq[String], sensitive: String): DataFrame = {
    val cells = df.groupBy((qis :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(qis.map(col): _*)
      .agg(
        sum("__c").as("grp_cnt"),
        count(lit(1)).as("l_distinct"),
        sum(col("__c") * log(col("__c"))).as("__clogc"))
      .select(qis.map(col) ++ Seq(
        col("grp_cnt"),
        col("l_distinct"),
        entropyCol(col("__clogc"), col("grp_cnt")).as("entropy")): _*)
  }

  /** DISTINCT l-diversity suppression: keep only rows whose class carries
    * at least l distinct sensitive values. */
  def suppress(df: DataFrame, qis: Seq[String], sensitive: String, l: Int): DataFrame =
    semiJoinDiverse(df, qis, groupDiversity(df, qis, sensitive)
      .filter(col("l_distinct") >= l))

  /** <=> semi-join: groupBy emits NULL-keyed classes, and a plain `=`
    * semi-join would suppress every row of a NULL-QI class even when that
    * class IS diverse (SQL null-equality never matches). */
  private def semiJoinDiverse(df: DataFrame, qis: Seq[String], diverse: DataFrame): DataFrame =
    NullSafe.semi(df, diverse.select(qis.map(col): _*), qis)
}
