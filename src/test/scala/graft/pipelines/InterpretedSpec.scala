package graft.pipelines

import graft.{BenchMetrics, QueryCleanup, SparkInternals, SparkSpec}
import graft.ops.{Graph, TCloseness}
import graft.schema.AdultSchema
import graft.sources.CsvSource
import graft.util.Interpreted
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.rand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The interpreted route of the paper's pipelines ([[Interpreted]]): which
  * inputs take it, that it stops the warm recompiles, that it releases what
  * the compiled route releases, and that the child session stays visible to
  * the caller (its confs, functions and query listeners). */
class InterpretedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val adultDir = {
    val dir = tempDir("interpreted_adult")
    CsvSource.write(AdultFixture.raw(spark), dir)
    dir
  }
  private lazy val adult = {
    val d = AdultSchema.load(spark, adultDir).cache()
    d.count()
    d
  }
  private val qis = AdultSchema.quasiIdentifiers
  private val numeric = Seq("age", "capital_gain", "capital_loss")
  private val bins = Map("age" -> 5, "capital_gain" -> 3, "capital_loss" -> 3)

  /** E1, E3 with its recheck and E2 through `route`: the reports, and each
    * release's rows, sorted. */
  private def study(df: DataFrame, route: DataFrame => Boolean): (Seq[Any], Seq[Seq[Row]]) = {
    val e1 = NaiveSuppressionPipeline.runWithin(df, qis, 5, route)
    val e3 = TClosenessPipeline.runWithin(TCloseness.ordinal(df, "income", "income_pos"),
      qis, "income_pos", 5, 0.2, bins, route)
    val v = TClosenessPipeline.violationsWithin(e3, qis, "income_pos", 0.2, route)
    val (e2, e2Report, e2Ncp) = ClusteringPipeline.runWithin(df, numeric,
      qis.filterNot(numeric.contains), 10, 42L, route)
    val frames = Seq(e1.anonymized, e3.anonymized, e2.clustered, e2.generalized)
    try {
      assert(frames.forall(_.sparkSession eq df.sparkSession),
        "a pipeline returned a frame on another session")
      (Seq(e1.report, e1.ncp, e3.report, e3.ncp, v, e2Report, e2Ncp),
        frames.map(_.collect().toSeq.sortBy(_.toString)))
    } finally {
      frames.foreach(_.unpersist())
      QueryCleanup.drain()
    }
  }

  /** The SQL executions `run` starts, by whether they ran interpreted. */
  private def interpretedRuns(run: => Unit): Seq[Boolean] = {
    val started = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      SparkInternals.flushListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    started.asScala.toSeq.map(
      _.modifiedConfigs.get("spark.sql.codegen.factoryMode").contains("NO_CODEGEN"))
  }

  test("the Adult fixture runs interpreted; past the bound, a file scan or an unfilled cache stays compiled") {
    assert(Interpreted.fits(adult), s"${Interpreted.inputBytes(adult)} bytes")
    val e1 = interpretedRuns {
      NaiveSuppressionPipeline.run(adult, qis, k = 5).anonymized.unpersist()
    }
    assert(e1.nonEmpty && e1.forall(identity), s"E1 executions interpreted: $e1")
    // ordinal's dictionary is a local relation, so E3's input still fits
    val e3Input = TCloseness.ordinal(adult, "income", "income_pos")
    assert(Interpreted.fits(e3Input), s"${Interpreted.inputBytes(e3Input)} bytes")
    // random doubles defeat the cache's column compression: 8 bytes a row
    val past = spark.range(Interpreted.MaxInputBytes / 8 * 5 / 4)
      .select(rand(7).as("x")).cache()
    try {
      past.count()
      assert(Interpreted.inputBytes(past).exists(_ > Interpreted.MaxInputBytes),
        s"${Interpreted.inputBytes(past)} bytes")
      assert(!Interpreted.fits(past))
    } finally past.unpersist()
    // a file scan reports its size on disk, not the rows it decodes to
    val scan = spark.read.text(adultDir)
    assert(Interpreted.inputBytes(scan).isEmpty && !Interpreted.fits(scan))
    // and a cache counts only once it is filled
    val unfilled = spark.createDataFrame(adult.rdd, adult.schema).cache()
    try {
      assert(!Interpreted.fits(unfilled), s"${Interpreted.inputBytes(unfilled)} bytes")
      val runs = interpretedRuns {
        NaiveSuppressionPipeline.run(unfilled, qis, k = 5).anonymized.unpersist()
      }
      assert(runs.nonEmpty && !runs.exists(identity), s"executions interpreted: $runs")
    } finally unfilled.unpersist()
  }

  test("q27's ordinal over a Parquet scan stays compiled") {
    val dir = tempDir("interpreted_events")
    Seq((1L, "view"), (2L, "buy"), (3L, "view")).toDF("event_id", "event_type")
      .write.mode("overwrite").parquet(dir)
    val runs = interpretedRuns {
      TCloseness.ordinal(spark.read.parquet(dir), "event_type", "event_type_idx").collect()
    }
    assert(runs.nonEmpty && !runs.exists(identity), s"executions interpreted: $runs")
  }

  test("a warm second pass of the study compiles next to nothing") {
    study(adult, Interpreted.fits)
    val before = BenchMetrics.codegenCompiles
    study(adult, Interpreted.fits)
    val compiles = BenchMetrics.codegenCompiles - before
    // the compiled route recompiles 180-190 classes a warm pass. The
    // interpreted operators still generate some classes in their tasks
    // (cache column readers, aggregation row joiners, sort orderings);
    // the codegen cache keeps them because the pipelines reuse one child
    // session, whose tasks load classes through one class loader
    assert(compiles <= 8, s"$compiles classes compiled on a warm pass")
  }

  test("both routes release the same reports and the same rows") {
    val (interpretedReports, interpretedRows) = study(adult, _ => true)
    val (compiledReports, compiledRows) = study(adult, _ => false)
    assert(interpretedReports == compiledReports)
    assert(interpretedRows == compiledRows)
  }

  test("the child session sees the caller's runtime confs and functions, and the caller keeps its own") {
    val key = "spark.graft.interpreted.probe"
    // a child made before the caller's changes
    Interpreted(spark.range(3).toDF(), _ => true) { (in, _) => in.count() }
    spark.conf.set(key, "caller")
    spark.udf.register("graft_interpreted_probe", (x: Long) => x + 1)
    try {
      val (conf, probed, interpreted) = Interpreted(spark.range(3).toDF(), _ => true) { (in, home) =>
        (in.sparkSession.conf.get(key),
          home(in.selectExpr("graft_interpreted_probe(id)")).as[Long].collect().toSet,
          in.sparkSession ne spark)
      }
      assert(conf == "caller" && probed == Set(1L, 2L, 3L) && interpreted)
      assert(!spark.conf.getOption("spark.sql.codegen.factoryMode").contains("NO_CODEGEN"))
      assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    } finally {
      spark.conf.unset(key)
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_interpreted_probe")
    }
  }

  test("a listener the caller registers after its children exist hears all their executions, and none once unregistered") {
    val named = new AtomicInteger
    val seen = new AtomicInteger
    // a QueryExecutionListener hears of an execution when it has a name
    // (`executionName`, private[sql]) and ran on the listener's session
    val all = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd
            if end.getClass.getMethod("executionName").invoke(end)
              .asInstanceOf[Option[String]].isDefined =>
          named.incrementAndGet()
        case _ =>
      }
    }
    val caller = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.incrementAndGet()
    }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val small = adult.limit(2000).cache()
    small.count()
    // kCore's and the pipelines' children, made before the listener
    Graph.kCore(edges, "src", "dst", k = 2).count()
    study(small, Interpreted.fits)
    spark.sparkContext.addSparkListener(all)
    spark.listenerManager.register(caller)
    try {
      val core = Graph.kCore(edges, "src", "dst", k = 2)
      assert(core.sparkSession eq spark, "kCore returned its frame on its own session")
      assert(core.count() == 3)
      study(small, Interpreted.fits)
      SparkInternals.flushListenerBus(spark.sparkContext)
      assert(named.get > 20 && seen.get == named.get,
        s"the caller's listener saw ${seen.get} of ${named.get} executions")
      spark.listenerManager.unregister(caller)
      val heard = seen.get
      Graph.kCore(edges, "src", "dst", k = 2).count()
      study(small, Interpreted.fits)
      SparkInternals.flushListenerBus(spark.sparkContext)
      assert(seen.get == heard, s"an unregistered listener heard ${seen.get - heard} more executions")
    } finally {
      spark.listenerManager.unregister(caller)
      spark.sparkContext.removeSparkListener(all)
      small.unpersist()
      QueryCleanup.drain()
    }
  }

  test("calls share one child session, remade when the caller changes") {
    def child(): SparkSession = Interpreted(adult, _ => true) { (in, _) => in.sparkSession }
    val first = child()
    assert((first ne spark) && (child() eq first))
    val key = "spark.graft.interpreted.probe"
    spark.conf.set(key, "changed")
    try {
      val next = child()
      assert((next ne first) && (child() eq next))
    } finally spark.conf.unset(key)
    // Spark keeps each session that has run a query reachable, with a
    // listener bus on the shared queue while it has query listeners, so
    // passes must not leave a session behind a call
    val sessions = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkSession, java.lang.Boolean]())
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = sessions.add(qe.sparkSession)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = sessions.add(qe.sparkSession)
    }
    spark.listenerManager.register(listener)
    try {
      for (_ <- 1 to 3) study(adult, Interpreted.fits)
      SparkInternals.flushListenerBus(spark.sparkContext)
      val others = sessions.asScala.filterNot(_ eq spark)
      assert(others.size == 1, s"three passes ran on ${others.size} sessions besides the caller's")
    } finally spark.listenerManager.unregister(listener)
  }
}
