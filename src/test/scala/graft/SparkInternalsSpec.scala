package graft

import graft.ops.Graph
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

/** The two reflective hooks do what their callers rely on: a rebound plan
  * runs under the target session's conf, and kCore's small-state rounds
  * really run on its AQE-off session (a failed rebind now throws instead
  * of quietly running them on the caller's). */
class SparkInternalsSpec extends SparkSpec {
  import spark.implicits._

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  // a cached relation's scan lists the plan that filled the cache beneath
  // it; that plan ran once, earlier, under the conf of the session that
  // filled it, so it is no part of the round
  private def nodes(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: (if (p.nodeName == "InMemoryTableScan") Nil else p.children.flatMap(nodes))

  test("rebind moves a plan onto the target session's conf") {
    val quiet = spark.newSession()
    quiet.conf.set("spark.sql.adaptive.enabled", "false")
    val df = spark.range(100).groupBy(col("id") % 3).count()
    val moved = SparkInternals.rebind(quiet, df)
    assert(moved.sparkSession eq quiet)
    assert(adaptive(df) && !adaptive(moved))
    assert(moved.collect().toSet == df.collect().toSet)
  }

  test("kCore's rebound rounds run under the quiet session's conf") {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s)
        case _ =>
      }
    }
    // a triangle with a pendant chain: k = 2 peels the chain over rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Graph.kCore(edges, "src", "dst", k = 2).count() == 3)
      SparkInternals.flushListenerBus(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      QueryCleanup.drain()
    }
    val plans = started.asScala.toSeq.map(s => (nodes(s.sparkPlanInfo), s.modifiedConfigs))
    // a peel round shuffles; on the caller's session it would be adaptive
    val rounds = plans.filter { case (n, _) => n.exists(_.contains("Exchange")) }
    val quiet = rounds.filterNot { case (n, _) => n.contains("AdaptiveSparkPlan") }
    assert(quiet.nonEmpty, s"every round ran adaptive: ${rounds.map(_._1.head)}")
    assert(quiet.forall { case (_, conf) => conf.get("spark.sql.adaptive.enabled").contains("false") })
  }
}
