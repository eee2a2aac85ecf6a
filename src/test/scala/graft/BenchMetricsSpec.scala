package graft

import org.apache.spark.sql.functions._

class BenchMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("listener attributes shuffle bytes to the query that ran") {
    val listener = new BenchMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkInternals.flushListenerBus(spark.sparkContext)
      listener.resetPeak()
      val before = listener.totals
      // A genuine shuffle: wide-key groupBy over enough rows that the
      // exchange writes real bytes.
      spark.range(0, 50000).select((col("id") % 997).as("k"), col("id"))
        .groupBy("k").agg(sum("id")).queryExecution.toRdd.count()
      val snap = BenchMetrics.snapshot(spark.sparkContext, listener, before)
      assert(snap.shuffleWriteMb > 0.0, snap.toString)
      assert(snap.shuffleReadMb > 0.0, snap.toString)
      assert(snap.peakExecMemMb > 0.0, snap.toString)

      // A shuffle-free scan right after must NOT inherit the previous
      // query's bytes (the diff-against-prev contract).
      val before2 = listener.totals
      spark.range(0, 1000).select(col("id") + 1).queryExecution.toRdd.count()
      val snap2 = BenchMetrics.snapshot(spark.sparkContext, listener, before2)
      assert(snap2.shuffleWriteMb == 0.0 && snap2.shuffleReadMb == 0.0, snap2.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("RSS probe reads /proc/self/status on linux") {
    val (rss, hwm) = BenchMetrics.rssMb
    // The test JVM is a running process: both must be positive and the
    // lifetime high-water mark can't be below the current RSS.
    assert(rss > 0.0 && hwm > 0.0, s"rss=$rss hwm=$hwm")
    assert(hwm >= rss - 1.0, s"rss=$rss hwm=$hwm") // -1 MiB: sampling slack
  }

  test("snapshot json is well-formed") {
    val s = BenchMetrics.ResourceSnapshot(1.5, 2.25, 10.0, 0.0, 64.0, 512.0, 600.0,
      codegenCompiles = 7L)
    val j = s.json
    assert(j.startsWith("{") && j.endsWith("}"), j)
    assert(j.contains("\"shuffle_read_mb\":1.500") && j.contains("\"rss_hwm_mb\":600.0"), j)
    assert(j.contains("\"codegen_compiles\":7}"), j)
  }
}
