package graft

import org.apache.spark.sql.functions.col

/** The scaling-sentinel mode's inputs: amplified copies must stay
  * disjoint, and a bad `SPARK_GRAFT_SCALING_SET` must fail on one line
  * instead of a stack trace. */
class BenchScalingSpec extends SparkSpec {
  import spark.implicits._

  test("tradePairs: at k = 12 no supplier id of copy i is a customer id of copy i + 10") {
    // raw supplier and customer ids overlap (1..3 on both sides), so a
    // supplier offset of fewer than k copy shifts collides across copies
    val dir = tempDir("graft-scaling-spec")
    (1L to 6L).map(i => (i, (i % 3) + 1)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    (1L to 6L).map(i => (i, ((i + 1) % 3) + 1)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    val k = 12
    val pairs = BenchScaling.tradePairs(spark, dir, k).cache()
    val supp = pairs.select(col("supp")).as[Long].collect().toSet
    val cust = pairs.select(col("cust")).as[Long].collect().toSet
    pairs.unpersist()
    assert(supp.size == 3 * k && cust.size == 3 * k)
    assert((supp intersect cust).isEmpty, (supp intersect cust).toSeq.sorted.take(5))
  }

  test("scalingFactor accepts integers >= 1 and names the variable otherwise") {
    assert(BenchScaling.scalingFactor(None) == Right(None))
    assert(BenchScaling.scalingFactor(Some("  ")) == Right(None))
    assert(BenchScaling.scalingFactor(Some(" 16 ")) == Right(Some(16)))
    Seq("0", "-3", "1.5", "sixteen").foreach { v =>
      val err = BenchScaling.scalingFactor(Some(v))
      assert(err.isLeft, v)
      val msg = err.swap.toOption.get
      assert(msg.startsWith("SPARK_GRAFT_SCALING_SET") && !msg.contains("\n"), msg)
    }
  }
}
