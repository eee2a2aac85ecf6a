package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: hand-computed points and dimension symmetry") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L), (5L, 2L))
      .toDF("x", "y")
    val got = pts.select($"x", $"y", ZOrder.zValue($"x", $"y", 3).as("z"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // x bits land at even positions, y bits at odd
    assert(got((0L, 0L)) == 0L)
    assert(got((1L, 0L)) == 1L)  // x bit0 -> pos 0
    assert(got((0L, 1L)) == 2L)  // y bit0 -> pos 1
    assert(got((3L, 3L)) == 15L) // 11 interleaved with 11 = 1111
    assert(got((2L, 1L)) == 6L)  // x=10 -> pos2; y=1 -> pos1
    assert(got((5L, 2L)) == 25L) // x=101 -> pos4,0 (17); y=010 -> pos3 (8)
  }

  test("compactZOrder bounds per-file ranges in BOTH dimensions") {
    // 64x64 grid, shuffled: a single-column sort gives tight x ranges
    // but each file spans ALL of y; the z-order must bound both.
    val grid = spark.range(4096)
      .selectExpr("id % 64 AS x", "CAST(id / 64 AS LONG) AS y", "id AS payload")
      .repartition(16)
    val in = s"${tempDir("graft_zorder_in")}/data"
    val outZ = s"${tempDir("graft_zorder_out")}/data"
    val outX = s"${tempDir("graft_xsort_out")}/data"
    grid.write.parquet(in)
    // target sized to produce enough files that z-squares are clearly
    // tighter than the 2x bound (at ~8 files the y-spread sits right at
    // the boundary and file-cut jitter flips the assertion)
    val n = ZOrder.compactZOrder(spark, in, outZ, "x", "y", bits = 6,
      targetBytes = 4L * 1024)
    Compaction.compact(spark, in, outX, "x", targetBytes = 4L * 1024)
    assert(n >= 8, s"fixture too small to test layout: $n file(s)")
    def spreads(dir: String): (Double, Double) = {
      val s = spark.read.parquet(dir)
        .select(input_file_name().as("f"), $"x", $"y")
        .groupBy("f")
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).head()
      (s.getDouble(0), s.getDouble(1))
    }
    val (zx, zy) = spreads(outZ)
    val (xx, xy) = spreads(outX)
    // x-sorted: near-full y spread per file; z-ordered: BOTH bounded
    assert(xy > 55.0, s"x-sorted baseline should span y (~63), got $xy")
    assert(zy < xy / 2, s"z-order y-spread $zy not < half of x-sorted $xy")
    assert(zx < 64.0, s"z-order x-spread $zx must stay bounded")
    // content survives bit-exact
    assert(spark.read.parquet(outZ).select("payload").as[Long].collect().sorted
      .sameElements(0L until 4096L))
  }

  test("rangeBucket spends all bits on a narrow domain where pmod cannot") {
    // domain [0, 1000) into 2^15 pmod buckets: the high 5 bits are
    // always zero, so the interleave is dominated by the other column;
    // range bucketing spreads the same values across the full range
    val vals = spark.range(1000).select($"id".as("v"))
    val rb = vals.select(ZOrder.rangeBucket($"v", 0L, 999L, 15).as("b"))
      .agg(min("b"), max("b")).as[(Long, Long)].head()
    assert(rb._1 == 0L && rb._2 > 32000L, rb.toString)
    // monotone: raw-value range predicates still align with the curve
    val pairs = vals.select($"v", ZOrder.rangeBucket($"v", 0L, 999L, 15).as("b"))
      .orderBy("v").as[(Long, Long)].collect()
    assert(pairs.sliding(2).forall(w => w(0)._2 <= w(1)._2))
    // max value stays inside the bucket space
    assert(pairs.last._2 < (1L << 15))
    // out-of-range and negative values clamp instead of interleaving
    // sign-extended garbage
    val edge = Seq(-50L, 0L, 999L, 5000L).toDF("v")
      .select(ZOrder.rangeBucket($"v", 0L, 999L, 15).as("b"))
      .as[Long].collect()
    assert(edge.forall(b => b >= 0 && b < (1L << 15)), edge.mkString(","))
    // negative domain shifts cleanly through minVal
    val neg = Seq(-100L, -1L).toDF("v")
      .select(ZOrder.rangeBucket($"v", -100L, -1L, 6).as("b"))
      .as[Long].collect()
    assert(neg(0) == 0L && neg(1) == 63L, neg.mkString(","))
  }
}
