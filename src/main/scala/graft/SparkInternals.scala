package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Narrow access point for Spark-internal plumbing the public API doesn't
  * expose. Kept to THREE capabilities on purpose: draining the async
  * listener bus so per-query metric snapshots (BenchMetrics) don't race
  * stage completion events, child sessions, and re-binding an analyzed
  * plan onto another session, so per-query SQL-conf overrides don't mutate
  * shared session state. (Freeing checkpoint storage, which
  * `Dataset.unpersist` can't reach, belongs to
  * [[graft.util.Truncate.release]].)
  * The package-private calls themselves live in
  * [[org.apache.spark.sql.GraftBridge]], in Spark's own package (as
  * `GraftLloyd` lives in MLlib's), so a Spark whose internal shape differs
  * fails the build instead of a run; nothing here falls back silently. */
object SparkInternals {

  def flushListenerBus(sc: SparkContext): Unit = GraftBridge.waitUntilEmpty(sc)

  /** A child of `spark` with `overrides` set on the child alone: a clone
    * (`SparkSession.cloneSession`, `private[sql]`), so unlike
    * `newSession()` it carries the caller's runtime SQL confs, temporary
    * functions and QueryExecutionListeners, and a plan rebound onto it
    * still reports to the caller's listeners. One child is kept per
    * caller and set of overrides, and remade only when the caller's confs,
    * functions or listeners have changed since it was cloned. Reuse is the
    * point: Spark 4.1 keeps every session that has run a query reachable,
    * with its listener bus on the shared queue, so a clone per call would
    * pile up; and each session's tasks get a class loader of their own,
    * which the codegen cache is keyed by, so a fresh clone recompiles what
    * the last one compiled (PERFORMANCE.md "Where a warm Adult pass
    * goes"). */
  private[graft] def childSession(spark: SparkSession, overrides: (String, String)*): SparkSession =
    children.synchronized {
      val mine = children.computeIfAbsent(spark, _ =>
        new java.util.HashMap[Seq[(String, String)], (Lineage, SparkSession)]())
      val now = lineage(spark)
      Option(mine.get(overrides)) match {
        case Some((seen, child)) if seen == now => child
        case _ =>
          val child = GraftBridge.cloneSession(spark)
          overrides.foreach { case (k, v) => child.conf.set(k, v) }
          mine.put(overrides, (now, child))
          child
      }
    }

  private type Lineage = (Map[String, String], Map[AnyRef, AnyRef], Seq[AnyRef])

  // caller -> (overrides -> the lineage its child was cloned from, the child)
  private val children = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[Seq[(String, String)], (Lineage, SparkSession)]]()

  /** What a child copies from `spark` when it is cloned: the runtime confs,
    * each function name with its builder, and the query listeners. */
  private def lineage(spark: SparkSession): Lineage = {
    val functions = spark.sessionState.functionRegistry
    (spark.conf.getAll,
      functions.listFunction().map(f => (f: AnyRef) -> functions.lookupFunctionBuilder(f)).toMap,
      GraftBridge.listeners(spark))
  }

  /** Re-bind `df`'s ANALYZED plan onto `target` (usually a
    * [[childSession]] carrying statement-scoped SQL-conf
    * overrides, e.g. AQE off for tiny iterative rounds). The sessions
    * share one SparkContext and CacheManager, so cached/checkpointed
    * inputs keep hitting; only conf resolution changes. A thread-local
    * `SQLConf.withExistingConf` override does NOT work here — measured:
    * query planning pins the owning session's conf — which is why the
    * plan must move to the session instead of the conf to the thread. */
  def rebind(target: SparkSession, df: DataFrame): DataFrame =
    GraftBridge.ofRows(target, df.queryExecution.analyzed)
}
