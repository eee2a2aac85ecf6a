package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Opt-in SCALING-SENTINEL bench mode (r17). At sf0.1 the main bench is
  * scheduling-floor bound — 226 of 333 queries run sub-second and every
  * 8-vs-32-core ratio sits at ~1 — so the bench cannot catch a change
  * that breaks parallel scaling. With `SPARK_GRAFT_SCALING_SET=<k>` set,
  * `graft.Bench` runs THIS fixed set of the engine's most data-sized
  * operator families over inputs amplified k× in-flight and prints one
  * extra JSON line `{"metric":"scaling_sentinel",...}` instead of the
  * main suite. Run it at two core counts (`SPARK_GRAFT_CPUS`) and
  * compare per-sentinel seconds: with k≈16-32 the working set is tens of
  * millions of rows, large enough that the core-count ratio measures
  * parallel execution, not task-scheduling overhead.
  *
  * ADDITIONS-ONLY to the bench contract: without the env var Bench is
  * byte-identical; the sentinels never touch the declared `queries` map
  * or the oracle, and every run computes from the parquet inputs at call
  * time (amplification is a lazy union of id-shifted projections — no
  * files written, nothing cached across runs).
  *
  * Amplification: k deterministic copies with all join/group KEYS
  * shifted by i·1e11 per copy, so keys stay distinct across copies and
  * data volume, distinct-key count and shuffle bytes all scale ×k with
  * NO quadratic pair blow-up (copies never collide). Payload columns are
  * left as-is. The id shift keeps every copy's internal structure — the
  * per-copy plans are the production plans, k× wider.
  */
object BenchScaling {

  private val CopyShift = 100000000000L // 1e11 > any sf key domain

  private def amplify(df: DataFrame, k: Int, idCols: Seq[String]): DataFrame =
    (0 until k).map { i =>
      idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i.toLong * CopyShift)))
    }.reduce(_ unionByName _)

  /** The distinct (supp, cust) pairs of the amplified supplier-customer
    * graph. Supplier nodes shift by k more copies, past every copy's
    * customer ids: copy i's suppliers sit at supp + (i + k)·CopyShift,
    * while customers only reach copy k − 1's range, so no supplier of any
    * copy takes a customer's id. */
  private[graft] def tradePairs(s: SparkSession, dir: String, k: Int): DataFrame = {
    val l = amplify(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
      k, Seq("l_orderkey", "l_suppkey"))
    val o = amplify(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
      k, Seq("o_orderkey", "o_custkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + lit(k * CopyShift)).as("supp"), col("o_custkey").as("cust"))
      .distinct()
  }

  /** The amplification factor `SPARK_GRAFT_SCALING_SET` asks for: None when
    * unset or blank, else an integer >= 1 — or a one-line error naming the
    * variable. */
  def scalingFactor(raw: Option[String]): Either[String, Option[Int]] =
    raw.map(_.trim).filter(_.nonEmpty) match {
      case None => Right(None)
      case Some(v) => v.toIntOption.filter(_ >= 1).map(k => Right(Some(k)))
        .getOrElse(Left(s"SPARK_GRAFT_SCALING_SET='$v': expected an integer >= 1"))
    }

  /** The sentinel set: one representative per heavy operator family.
    * Each returns a DataFrame; the timed action (like the main bench) is
    * `queryExecution.toRdd.count()` over the full output. */
  private def sentinels(k: Int): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // Relational core: data-sized equi-join + aggregation.
    "s1_join_agg" -> ((s: SparkSession, dir: String) => {
      val l = amplify(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"), k, Seq("l_orderkey"))
      val o = amplify(Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderpriority"), k, Seq("o_orderkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey", "o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
          count(lit(1)).as("n"))
    }),

    // Global sort/window family: full-data rank within groups.
    "s2_window_rank" -> ((s: SparkSession, dir: String) => {
      val l = amplify(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice"), k, Seq("l_orderkey", "l_suppkey"))
      l.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("l_suppkey").orderBy(col("l_extendedprice").desc, col("l_orderkey"))))
        .filter(col("rk") <= 3)
    }),

    // Iterative graph family: PageRank over the amplified bipartite
    // supplier-customer graph (k disjoint copies; per-copy structure is
    // exactly q125's graph).
    "s3_pagerank" -> ((s: SparkSession, dir: String) => {
      val pairs = tradePairs(s, dir, k)
      val edges = pairs.select(col("supp").as("src"), col("cust").as("dst"))
        .unionByName(pairs.select(col("cust").as("src"), col("supp").as("dst")))
      graft.ops.Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 3)
    }),

    // Peel-loop graph family: k-core over the same amplified graph.
    "s4_kcore" -> ((s: SparkSession, dir: String) => {
      graft.ops.Graph.kCore(tradePairs(s, dir, k), "supp", "cust", k = 2, maxRounds = 12)
    }),

    // Text/dedup family: 8-gram hash explode + corpus-wide distinct —
    // decontaminate's shuffle shape, linear in k (texts repeat across
    // copies but the group keys are (gram-hash) — duplicate grams
    // collapse in the map-side partial, so bytes shuffled still scale
    // with the input scan).
    "s5_ngram_distinct" -> ((s: SparkSession, dir: String) => {
      val d = amplify(Tables.documents(s, dir).select("doc_id", "text"), k, Seq("doc_id"))
      val toks = d.select(col("doc_id"), split(lower(col("text")), "\\s+").as("__t"))
      toks.select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(__t) - 7, 0)), " +
            "i -> xxhash64(concat_ws(' ', slice(__t, i, 8))))")).as("g"))
        .groupBy("g").agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
    }),

    // Exact-dedup family: content-hash argmin over amplified documents.
    "s6_exact_dedup" -> ((s: SparkSession, dir: String) => {
      val d = amplify(Tables.documents(s, dir).select("doc_id", "text"), k, Seq("doc_id"))
      d.groupBy(md5(col("text").cast("string")).as("h"))
        .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n"))
    }))

  def run(spark: SparkSession, sfDir: String, k: Int, reps: Int): Unit = {
    val results = sentinels(k).map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"scaling-sentinel $name (k=$k)")
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        QueryCleanup.scoped(name) {
          fn(spark, sfDir).queryExecution.toRdd.count()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        QueryCleanup.drain(name)
        sec
      }.sorted
      System.err.println(f"[scaling] $name%-18s median ${times(times.size / 2)}%.2f s " +
        times.map(t => f"$t%.2f").mkString("[", ",", "]"))
      name -> times(times.size / 2)
    }
    spark.sparkContext.setJobDescription(null)
    val qs = results.map { case (n, v) => "\"" + n + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    println(f"""{"metric":"scaling_sentinel","value":$total%.3f,"unit":"sec","queries":$qs,"k":$k,"cpus":$cpus,"reps":$reps,"sf":"$sfDir"}""")
  }
}
