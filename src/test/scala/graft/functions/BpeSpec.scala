package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins the BPE tokenizer to hand-verified merge sequences over the
  * committed merges table (cross-checked against an independent Python
  * replay of the same ranked-merge algorithm). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def toks(w: String): Seq[String] = BpeImpl.tokenizeWord(w).toSeq

  test("merge loop on fixed words matches the hand-computed sequences") {
    assert(toks("the") == Seq("the"))
    assert(toks("that") == Seq("that"))
    assert(toks("with") == Seq("with"))
    assert(toks("this") == Seq("this"))
    assert(toks("you") == Seq("you"))
    assert(toks("they") == Seq("they"))
    // partial merges: only prefixes/infixes present in the table fuse
    assert(toks("subword") == Seq("sub", "w", "or", "d"))
    assert(toks("tokenization") == Seq("to", "k", "en", "i", "z", "at", "i", "on"))
    assert(toks("information") == Seq("in", "for", "m", "at", "i", "on"))
    // "which" is in the table as "wh ich" but that merge can never fire:
    // by the time "wh" exists, the right side is "i c h" and "ic" (rank
    // earlier than "ch") already fused — BPE is greedy by RANK, not by
    // longest match. Deterministic, so pinned.
    assert(toks("which") == Seq("wh", "i", "ch"))
    // symbols with no merges never fuse (digits, apostrophes)
    assert(toks("123") == Seq("1", "2", "3"))
    assert(toks("don't") == Seq("d", "on", "'", "t"))
    assert(toks("") == Seq.empty)
    assert(toks("a") == Seq("a"))
  }

  test("document count = sum over lowercased whitespace words") {
    val s = UTF8String.fromString("The quick brown fox, with 42 tokens!")
    // the | qu ic k | b r ow n | f o x , | with | 4 2 | to k en s !
    assert(BpeImpl.tokenCount(s) == 20L)
    assert(BpeImpl.tokens(s).numElements() == 20)
    assert(BpeImpl.tokenCount(UTF8String.fromString("")) == 0L)
    assert(BpeImpl.tokenCount(UTF8String.fromString("   ")) == 0L)
  }

  test("native expressions agree with the kernel and propagate null") {
    GraftFunctions.ensureRegistered(spark)
    val df = Seq(
      Some("The quick brown fox, with 42 tokens!"),
      Some("the the the"),
      None: Option[String]).toDF("text")
    val got = df.select(GraftFunctions.bpeCountNative($"text"))
      .as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(20L), Some(3L), None))
  }

  test("count kernel stays inside WholeStageCodegen") {
    GraftFunctions.ensureRegistered(spark)
    // derive the text from range's id so ConstantFolding can't collapse
    // the whole projection into a LocalTableScan
    val df = spark.range(3)
      .select(GraftFunctions.bpeCountNative(
        concat(lit("the word "), $"id".cast("string"))).as("n"))
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      plan.toString)
    assert(df.as[Long].collect().toSeq == Seq(5L, 5L, 5L)) // the | w or d | N
  }
}
