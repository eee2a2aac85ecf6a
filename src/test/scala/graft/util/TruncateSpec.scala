package graft.util

import graft.SparkSpec
import graft.ml.DeterministicKMeans
import graft.ops.{BpeTrain, Dedup, Graph, Mondrian, TCloseness}
import graft.pipelines.TClosenessPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit, sum}

/** The scale-safety knob behind every iterative op's lineage truncation
  * (r17, closing the r16 verdict's "What's wrong #1"): localCheckpoint is
  * correct in local mode but unreplicated-and-lineage-free on a cluster,
  * where one executor loss kills a long iterative query. These tests pin
  * that the strategy conf actually switches the checkpoint kind, that
  * either kind preserves the rows, that every iterative operator frees
  * what it truncated, that no module outside `Truncate` checkpoints or
  * frees checkpoints on its own, and that no operator hands a release
  * thunk back to its caller. */
class TruncateSpec extends SparkSpec {
  import spark.implicits._

  private def leafRdd(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.head

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // a triangle with a pendant chain (k=2 peels the chain over 3 rounds),
  // plus a second component
  private lazy val tinyGraph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 7L)).toDF("src", "dst")

  private lazy val microdata = (1 to 40)
    .map(i => (if (i % 4 == 0) "odd" else "big", 20 + i % 9, (i % 3).toLong))
    .toDF("g", "age", "pos")

  test("auto on a local master = localCheckpoint (no checkpoint file)") {
    val df = spark.range(100).toDF("id")
    val t = Truncate(df)
    val rdd = leafRdd(t)
    assert(rdd.isCheckpointed, "truncate must materialize eagerly")
    assert(rdd.getCheckpointFile.isEmpty,
      "local master must not write a reliable checkpoint")
    assert(t.count() == 100)
    Truncate.release(t)
  }

  // before any case that sets a directory: Truncate sets the
  // SparkContext's checkpoint directory for the rest of the JVM
  test("strategy 'reliable' with no checkpoint directory fails loudly") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "a directory is already set")
    spark.conf.set("spark.graft.truncate", "reliable")
    try {
      val e = intercept[IllegalStateException](Truncate(spark.range(3).toDF("id")))
      assert(e.getMessage.contains("spark.graft.checkpointDir") &&
        e.getMessage.contains("SparkContext.setCheckpointDir"), e.getMessage)
    } finally spark.conf.unset("spark.graft.truncate")
  }

  test("strategy 'reliable' switches to a durable checkpoint and keeps rows") {
    val auto = (rows(Graph.kCore(tinyGraph, "src", "dst", k = 2)),
      rows(Dedup.dedupClustersStar(tinyGraph, "src", "dst")))
    graft.QueryCleanup.drain()
    val dir = tempDir("graft-truncate-spec")
    spark.conf.set("spark.graft.truncate", "reliable")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val df = spark.range(50).toDF("id")
      val t = Truncate(df)
      val rdd = leafRdd(t)
      assert(rdd.isCheckpointed)
      assert(rdd.getCheckpointFile.isDefined,
        "reliable strategy must checkpoint to durable storage")
      assert(rdd.getCheckpointFile.get.contains(new java.io.File(dir).getName))
      assert(t.count() == 50)
      val file = new java.io.File(new java.net.URI(rdd.getCheckpointFile.get))
      assert(file.exists())
      Truncate.release(t)
      assert(!file.exists(), "release must delete a reliable leaf's directory")

      val reliable = (rows(Graph.kCore(tinyGraph, "src", "dst", k = 2)),
        rows(Dedup.dedupClustersStar(tinyGraph, "src", "dst")))
      graft.QueryCleanup.drain()
      assert(reliable == auto, "reliable and auto truncation return the same rows")
    } finally {
      spark.conf.unset("spark.graft.truncate")
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("kCore's small-state rounds follow a runtime 'reliable' strategy") {
    // tinyGraph is far below kCore's small-state gate, so every peel round
    // runs on its quiet child session, which must see the parent's
    // runtime truncation conf
    val dir = tempDir("graft-truncate-kcore")
    spark.conf.set("spark.graft.truncate", "reliable")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val core = Graph.kCore(tinyGraph, "src", "dst", k = 2)
      assert(leafRdd(core).getCheckpointFile.isDefined,
        "the last peel round truncated without the reliable strategy")
      assert(rows(core).size == 6)
    } finally {
      graft.QueryCleanup.drain()
      spark.conf.unset("spark.graft.truncate")
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("an unknown strategy fails loudly instead of picking one") {
    spark.conf.set("spark.graft.truncate", "local")
    try intercept[IllegalArgumentException](Truncate(spark.range(3).toDF("id")))
    finally spark.conf.unset("spark.graft.truncate")
  }

  test("observed returns the leaf and its metrics from one job") {
    val (t, m) = Truncate.observed(spark.range(10).toDF("id"))(
      count(lit(1)).as("n"), sum("id").as("s"))
    assert(leafRdd(t).isCheckpointed)
    assert(m == Map("n" -> 10L, "s" -> 45L))
    val (e, me) = Truncate.observed(spark.range(0).toDF("id"))(sum("id").as("s"))
    assert(me == Map("s" -> 0L), "an empty sum reads 0")
    Truncate.release(t); Truncate.release(e)
  }

  // Every iterative operator, on a tiny input: the persisted RDDs a call
  // creates (truncated leaves and topology caches alike) are all freed
  // once its result is consumed and the query's cleanup has drained.
  private val leakCases: Seq[(String, () => Unit)] = Seq(
    "kCore" -> (() => Graph.kCore(tinyGraph, "src", "dst", k = 2).collect()),
    "labelPropagation" -> (() =>
      Graph.labelPropagation(tinyGraph, "src", "dst", rounds = 3).collect()),
    "pageRankFixedPoint" -> (() =>
      Graph.pageRankFixedPoint(tinyGraph, "src", "dst", iterations = 3).collect()),
    "BpeTrain.train" -> (() => BpeTrain.train(
      Seq("low low lower newest newest widest").toDF("text"), "text",
      numMerges = 6, minCount = 1L, checkpointEvery = 1, batchWindow = 1)),
    "DeterministicKMeans.assign" -> (() => DeterministicKMeans.assign(
      (1 to 40).map(i => (i.toDouble, (i % 7).toDouble)).toDF("x", "y"),
      Seq("x", "y"), k = 3).collect()),
    "DeterministicKMeans.fitArrayMicros" -> (() => DeterministicKMeans.fitArrayMicros(
      (1 to 40).map(i => Seq(i.toDouble, (i % 7).toDouble)).toDF("v"), "v", k = 3)
      ._2.collect()),
    "DeterministicKMeans.fitGroupedArrayMicros" -> (() =>
      DeterministicKMeans.fitGroupedArrayMicros(
        (1 to 40).map(i => (i % 3, Seq(i.toDouble, (i % 7).toDouble))).toDF("g", "v"),
        "g", "v", k = 3)),
    "dedupClusters" -> (() => Dedup.dedupClusters(tinyGraph, "src", "dst").collect()),
    "dedupClustersStar" -> (() =>
      Dedup.dedupClustersStar(tinyGraph, "src", "dst").collect()),
    // scope "hot" is degenerate (40 docs over two shingles: mean posting
    // list 40 > MaxMeanPostingFreq), scope "cold" is not — so the scoped
    // route truncates a non-empty degenerate-key leaf and runs both
    // topologies over the persisted shingle table
    "ngramJaccardPairsPrefix" -> (() => Dedup.ngramJaccardPairsPrefix(
      ((1 to 40).map(i => (i.toLong, "hot", "a b a b a b")) ++
        (41 to 44).map(i => (i.toLong, "cold", s"w$i x$i y$i z$i")))
        .toDF("id", "shard", "text"), "id", "text", n = 2, threshold = 0.8,
      partitionCols = Seq("shard")).collect()),
    "Mondrian.assignPartitions" -> (() => Mondrian.assignPartitions(
      (1 to 40).map(i => (i, (i * 7) % 13)).toDF("a", "b"), Seq("a", "b"), k = 3)
      .collect()),
    "TCloseness.filter" -> (() =>
      TCloseness.filter(microdata, Seq("g"), "pos", k = 2, t = 0.3).collect()),
    "TClosenessPipeline.run" -> (() => {
      val r = TClosenessPipeline.run(microdata, Seq("g", "age"), "pos", k = 2,
        t = 0.3, binCols = Map("age" -> 3))
      r.anonymized.collect()
      // the released rows are cached for the caller, who frees them
      r.anonymized.unpersist(blocking = true)
    }))

  leakCases.foreach { case (name, run) =>
    test(s"$name frees every RDD it persisted at the query's drain") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run()
      graft.QueryCleanup.drain()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked persisted RDD ids: $leaked")
    }
  }

  test("no module outside Truncate checkpoints or frees checkpoints") {
    import graft.SourceScan.{code, files, root}
    val checkpointCall = "localCheckpoint\\(|\\.checkpoint\\(".r
    // a checkpoint-release helper: a def named like one, or code that
    // walks a plan's LogicalRDD leaves (how such a helper finds the RDD)
    val releaseHelper = "(?i)def\\s+\\w*(release|unpersist|free)\\w*checkpoint|LogicalRDD".r
    // a release thunk handed back to the caller instead of registered
    // under the caller's query scope
    val releaseThunk = "\\(\\s*DataFrame\\s*,\\s*\\(\\)\\s*=>\\s*Unit\\s*\\)".r
    val offenders = files.filterNot(_.getPath.endsWith("util/Truncate.scala"))
      .flatMap { f =>
        val c = code(f)
        (checkpointCall.findAllIn(c) ++ releaseHelper.findAllIn(c) ++
          releaseThunk.findAllIn(c)).map(m => s"${f.getPath}: $m")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val truncate = code(new java.io.File(root, "graft/util/Truncate.scala"))
    assert("LogicalRDD".r.findAllIn(truncate).size == 1,
      "Truncate holds exactly one release walk")
  }
}
