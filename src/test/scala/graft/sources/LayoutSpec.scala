package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lake-layout behaviors that matter at 100 TB: hive-partitioned writes
  * prune at the source, bucketed tables join without an exchange.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = Seq(
    (1L, 10L, 100.0, "O"), (2L, 11L, 200.0, "F"), (3L, 12L, 300.0, "O"),
    (4L, 10L, 400.0, "P"), (5L, 13L, 500.0, "F"), (6L, 11L, 600.0, "O")
  ).toDF("okey", "ckey", "price", "status")

  test("partitioned write + filtered read prunes to matching partitions") {
    val dir = tempDir("graft_part")
    orders.write.mode("overwrite").partitionBy("status").parquet(dir)
    val filtered = spark.read.parquet(dir).filter($"status" === "F")
    val scan = filtered.queryExecution.executedPlan.toString
    // partition filter reaches the scan, and only the F partition is read
    assert(scan.contains("PartitionFilters: [isnotnull(status"), scan)
    assert(filtered.count() == 2)
    val allParts = new java.io.File(dir).listFiles.map(_.getName).filter(_.startsWith("status="))
    assert(allParts.toSet == Set("status=O", "status=F", "status=P"))
  }

  test("bucketed tables join without a shuffle exchange") {
    // DROP TABLE clears the (per-JVM, in-memory) catalog but not a stale
    // warehouse dir left by a previous test JVM — remove both.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete())
        d.delete()
      }
    }
    orders.write.bucketBy(4, "ckey").sortBy("ckey").saveAsTable("b_orders")
    Seq((10L, "alice"), (11L, "bob"), (12L, "carol"), (13L, "dave"))
      .toDF("ckey", "name")
      .write.bucketBy(4, "ckey").sortBy("ckey").saveAsTable("b_customer")
    val joined = spark.table("b_orders").join(spark.table("b_customer"), "ckey")
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no shuffle on either side
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() == 6)
  }

  test("Bucketing: join AND aggregate on the bucket key stay exchange-free") {
    BucketedTable.write(orders, "g_bkt_orders", "ckey", 4, Seq("ckey"))
    BucketedTable.write(
      Seq((10L, "A"), (11L, "B"), (12L, "A"), (13L, "B")).toDF("ckey", "seg"),
      "g_bkt_customer", "ckey", 4, Seq("ckey"))
    try {
      // the merge hint pins sort-merge join: at this size a broadcast would win
      val agg = BucketedTable.read(spark, "g_bkt_orders").hint("merge")
        .join(BucketedTable.read(spark, "g_bkt_customer"), Seq("ckey"))
        .groupBy("ckey", "seg").agg(sum("price").as("rev"))
      val rows = agg.collect() // materialize so the adaptive plan finalizes
      val plan = agg.queryExecution.executedPlan.toString
      // the scans' HashPartitioning satisfies BOTH the join and the agg
      // distribution: scan -> merge join -> hash agg with zero exchanges
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      val got = rows.map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(got((10L, "A")) == 500.0 && got((11L, "B")) == 800.0)
    } finally {
      BucketedTable.drop(spark, "g_bkt_orders")
      BucketedTable.drop(spark, "g_bkt_customer")
    }
  }

  test("Compaction rewrites fragments into range-clustered files of the target size") {
    val base = tempDir("graft_compact")
    val rows = (1L to 1000L).map(i => (i, s"doc-$i-${"x" * 50}")).toDF("id", "text")
    rows.repartition(32).write.mode("overwrite").parquet(s"$base/frag")
    val fragFiles = new java.io.File(s"$base/frag").listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(fragFiles == 32)
    // target ~1/4 of the input -> expect 4 output files (and n reported = 4)
    val inBytes = spark.read.parquet(s"$base/frag")
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val n = Compaction.compact(spark, s"$base/frag", s"$base/out", "id",
      targetBytes = (inBytes + 3) / 4)
    val outFiles = new java.io.File(s"$base/out").listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(n == 4 && outFiles.length == n, s"n=$n files=${outFiles.length}")
    // content survives exactly
    val back = spark.read.parquet(s"$base/out")
    assert(back.count() == 1000)
    assert(back.select("id", "text").except(rows).isEmpty &&
      rows.except(back.select("id", "text")).isEmpty)
    // range clustering: per-file id ranges are pairwise disjoint, so parquet
    // min/max footer stats can prune whole files for range predicates
    val ranges = outFiles.map { f =>
      val one = spark.read.parquet(f.getAbsolutePath)
        .agg(min("id"), max("id")).head()
      (one.getLong(0), one.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, ranges.toSeq.toString)
  }
}
