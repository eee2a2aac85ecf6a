package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** The native compiled kernels must agree exactly with the declarative
  * higher-order formulations they replace (which in turn are validated
  * against the DuckDB oracle).
  */
class GraftExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    GraftFunctions.ensureRegistered(spark)
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark streams shuffle partitions across big clusters"),
      (3L, "word"),
      (4L, "a b a b a")
    ).toDF("doc_id", "text")
      .withColumn("__tk", TextAnalysis.tokens(col("text")))
  }

  test("native phash matches conv(substring(md5))") {
    val rows = docs.select(
      GraftFunctions.phashArr(col("__tk")).as("native"),
      transform(col("__tk"), t => PortableHash.phash(t)).as("decl"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, d) => assert(n == d) }
  }

  test("native phash mod P matches declarative") {
    val rows = docs.select(
      GraftFunctions.phashModArr(col("__tk")).as("native"),
      transform(col("__tk"), t => PortableHash.phashMod(t)).as("decl"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, d) => assert(n == d) }
  }

  test("native shingles match declarative incl. short-doc empty case") {
    val rows = docs.select(
      GraftFunctions.shinglesNative(col("__tk"), lit(2)).as("native"),
      Dedup.shinglesOfTokens(col("__tk"), 2).as("decl"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (n, d) => assert(n == d) }
  }

  test("native minhash signature matches declarative") {
    val staged = docs
      .withColumn("__sh", GraftFunctions.shinglesNative(col("__tk"), lit(2)))
      .filter(size(col("__sh")) > 0)
      .withColumn("__h", GraftFunctions.phashModArr(col("__sh")))
    val rows = staged.select(
      GraftFunctions.minhashSigNative(col("__h")).as("native"),
      Dedup.minhashFromHashes(col("__h")).as("decl"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, d) => assert(n == d) }
  }

  test("native simhash matches declarative") {
    val staged = docs.withColumn("__h", GraftFunctions.phashArr(col("__tk")))
    val rows = staged.select(
      GraftFunctions.simhashNative(col("__h")).as("native"),
      Dedup.simhashFromHashes(col("__h")).as("decl"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, d) => assert(n == d) }
  }

  test("native cosine matches declarative on float and double arrays") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.5f)),
      (Array(0.1f, 0.0f, -0.7f), Array(0.1f, 0.0f, -0.7f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))
    ).toDF("a", "b")
    GraftFunctions.ensureRegistered(spark)
    val rows = vecs.select(
      GraftFunctions.cosineNative(col("a"), col("b")).as("native"),
      (graft.ops.Similarity.dot(col("a"), col("b"))
        / (sqrt(graft.ops.Similarity.dot(col("a"), col("a")))
          * sqrt(graft.ops.Similarity.dot(col("b"), col("b"))))).as("decl"),
      GraftFunctions.cosineNative(
        transform(col("a"), x => x.cast("double")), col("b")).as("mixed"))
      .as[(Double, Double, Double)].collect()
    rows.foreach { case (n, d, m) => assert(n == d && m == d) }
  }

  test("dotMicro8 / cosineMicro8 match the declarative micro protocol") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.5f)),
      (Array(0.1f, 0.0f, -0.7f), Array(0.1f, 0.0f, -0.7f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))
    ).toDF("a", "b")
    GraftFunctions.ensureRegistered(spark)
    // declarative replay of the same protocol: per-term HALF_UP micro
    // rounding, integer sum — the oracle-side SQL in Scala clothing
    val declDot = aggregate(
      zip_with(col("a").cast("array<double>"), col("b").cast("array<double>"),
        (x, y) => round(x * y * lit(1e8), 0).cast("long")),
      lit(0L), _ + _)
    val rows = vecs.select(
      GraftFunctions.dotMicro8Native(col("a"), col("b")).as("native"),
      declDot.as("decl"),
      GraftFunctions.cosineMicro8Native(col("a"), col("b")).as("cosm"),
      round(GraftFunctions.cosineNative(col("a"), col("b")), 6).as("cosref"))
      .as[(Long, Long, Double, Double)].collect()
    rows.foreach { case (n, d, cm, cr) =>
      assert(n == d, s"dot micro $n != declarative $d")
      // micro cosine agrees with the raw-double cosine to 1 ulp of 6 dp
      assert(math.abs(cm - cr) <= 1e-6 + 1e-12, s"cosineMicro8 $cm vs $cr")
    }
    // zero-norm side -> null (not NaN/divide error); orthogonal -> 0.0
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(GraftFunctions.cosineMicro8Native(col("a"), col("b")).as("c"))
      .head()
    assert(z.isNullAt(0))
  }

  test("null array elements propagate to a null result (SQL surface)") {
    GraftFunctions.ensureRegistered(spark)
    // Arbitrary SQL can hand any array<...> with null elements to the
    // registered functions; they must return null, not NPE / read garbage.
    val sql = spark.sql(
      """SELECT
        |  graft_phash_array(array('a', cast(null as string))) AS p,
        |  graft_phash_mod_array(array(cast(null as string))) AS pm,
        |  graft_shingles(array('a', null, 'b'), 2) AS sh,
        |  graft_minhash_sig(array(1L, null)) AS mh,
        |  graft_simhash(array(null, 2L)) AS sim,
        |  graft_cosine(array(cast(1.0 as double), null),
        |               array(cast(1.0 as double), cast(2.0 as double))) AS cos
        |""".stripMargin)
    val r = sql.head()
    assert((0 until 6).forall(r.isNullAt), r.toString)

    // The same expressions through the interpreted path (eval without
    // codegen) — exercised via a driver-side literal eval.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val withNull = new GenericArrayData(Array[Any](UTF8String.fromString("a"), null))
    assert(TextHashImpl.phashArray(withNull) == null)
    assert(TextHashImpl.shingles(withNull, 2) == null)
    val longsWithNull = new GenericArrayData(Array[Any](1L, null))
    assert(TextHashImpl.minhashSig(longsWithNull) == null)
    assert(TextHashImpl.simhash(longsWithNull) == null)
    val dblsWithNull = new GenericArrayData(Array[Any](1.0, null))
    val dbls = new GenericArrayData(Array[Any](1.0, 2.0))
    assert(TextHashImpl.cosine(dblsWithNull, false, dbls, false) == null)

    // Null-free inputs are unaffected.
    val ok = spark.sql("SELECT graft_simhash(graft_phash_array(array('a','b'))) AS s").head()
    assert(!ok.isNullAt(0))
  }

  test("graft_topk works from SQL text and keeps (sim desc, id asc) order") {
    GraftFunctions.ensureRegistered(spark)
    val rows = spark.sql(
      """SELECT g, graft_topk(s, i, 2) AS tk
        |FROM VALUES ('a', 1.0D, 1L), ('a', 3.0D, 3L), ('a', 3.0D, 2L),
        |            ('a', 0.5D, 9L), ('b', 2.0D, 7L)
        |     AS t(g, s, i)
        |GROUP BY g""".stripMargin)
      .as[(String, Seq[(Long, Double)])].collect().toMap
    // ties broken by smaller id; k=2 evicts the rest
    assert(rows("a") == Seq((2L, 3.0), (3L, 3.0)))
    assert(rows("b") == Seq((7L, 2.0)))
    // null sims are skipped, not ranked
    val withNull = spark.sql(
      "SELECT graft_topk(s, i, 3) FROM VALUES (CAST(NULL AS DOUBLE), 1L), (1.0D, 2L) AS t(s, i)")
      .as[Seq[(Long, Double)]].head()
    assert(withNull == Seq((2L, 1.0)))
  }

  test("jaro-winkler matches the classic vectors and DuckDB edge semantics") {
    val cases = Seq(
      // golden values read back from DuckDB's jaro_winkler_similarity
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "x", 0.0),
      ("", "", 0.0))
    cases.foreach { case (a, b, want) =>
      val got = JaroWinklerImpl.sim(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got == want, s"jw($a,$b) = $got, want $want")
    }
    // and through the registered expression (codegen path)
    GraftFunctions.ensureRegistered(spark)
    val viaExpr = Seq(("martha", "marhta")).toDF("a", "b")
      .select(GraftFunctions.jaroWinklerNative(col("a"), col("b")))
      .as[Double].head()
    assert(viaExpr == 0.9611111111111111)
  }

  test("kernels run inside whole-stage codegen (no fallback in plan)") {
    // A local relation would be constant-folded away; go through parquet so
    // the executed plan is the real scan + projection pipeline.
    val dir = tempDir("graft_codegen")
    docs.select("doc_id", "text").write.mode("overwrite").parquet(dir)
    val fromDisk = spark.read.parquet(dir)
      .withColumn("__tk", TextAnalysis.tokens(col("text")))
      .withColumn("__sh", GraftFunctions.shinglesNative(col("__tk"), lit(2)))
      .withColumn("__h", GraftFunctions.phashModArr(col("__sh")))
      .select(GraftFunctions.minhashSigNative(col("__h")).as("sig"))
    val plan = fromDisk.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage.
    assert(plan.contains("*(1) Project"), plan)
    assert(fromDisk.count() == 4)
  }
}
