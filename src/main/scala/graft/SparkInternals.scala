package graft

import org.apache.spark.SparkContext

/** Narrow access point for Spark-internal plumbing the public API doesn't
  * expose. Kept to THREE capabilities on purpose: draining the async
  * listener bus so per-query metric snapshots (BenchMetrics) don't race
  * stage completion events, child sessions, and re-binding an analyzed
  * plan onto another session, so per-query SQL-conf overrides don't mutate
  * shared session state. (Freeing checkpoint storage, which
  * `Dataset.unpersist` can't reach, belongs to
  * [[graft.util.Truncate.release]].)
  * Uses reflection rather than a `package org.apache.spark` escape
  * so the project's own namespace stays honest. If the internal shape
  * ever changes, both fail with an error naming the lookup that broke:
  * a silent fallback would time snapshots that race their events, or run
  * a round under the wrong session's conf. */
object SparkInternals {

  /** `f`, with a failed reflective lookup reported as `what`, and an
    * exception thrown by the invoked method rethrown as itself. */
  private def reflect[T](what: String)(f: => T): T =
    try f catch {
      case e: java.lang.reflect.InvocationTargetException => throw e.getCause
      case e @ (_: ReflectiveOperationException | _: NoSuchElementException) =>
        throw new IllegalStateException(s"Spark internal lookup failed: $what", e)
    }

  def flushListenerBus(sc: SparkContext): Unit =
    reflect("SparkContext.listenerBus().waitUntilEmpty()") {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

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
  private[graft] def childSession(spark: org.apache.spark.sql.SparkSession,
                                 overrides: (String, String)*): org.apache.spark.sql.SparkSession =
    children.synchronized {
      val mine = children.computeIfAbsent(spark, _ =>
        new java.util.HashMap[Seq[(String, String)], (Lineage, org.apache.spark.sql.SparkSession)]())
      val now = lineage(spark)
      Option(mine.get(overrides)) match {
        case Some((seen, child)) if seen == now => child
        case _ =>
          val child = reflect("org.apache.spark.sql.classic.SparkSession.cloneSession()") {
            spark.getClass.getMethod("cloneSession").invoke(spark)
              .asInstanceOf[org.apache.spark.sql.SparkSession]
          }
          overrides.foreach { case (k, v) => child.conf.set(k, v) }
          mine.put(overrides, (now, child))
          child
      }
    }

  private type Lineage = (Map[String, String], Map[AnyRef, AnyRef], Seq[AnyRef])

  // caller -> (overrides -> the lineage its child was cloned from, the child)
  private val children = new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
    java.util.HashMap[Seq[(String, String)], (Lineage, org.apache.spark.sql.SparkSession)]]()

  /** What a child copies from `spark` when it is cloned: the runtime confs,
    * each function name with its builder, and the query listeners. */
  private def lineage(spark: org.apache.spark.sql.SparkSession): Lineage = {
    val functions = spark.sessionState.functionRegistry
    val listeners = reflect("ExecutionListenerManager.listListeners()") {
      spark.listenerManager.getClass.getMethod("listListeners").invoke(spark.listenerManager)
        .asInstanceOf[Array[AnyRef]].toSeq
    }
    (spark.conf.getAll,
      functions.listFunction().map(f => (f: AnyRef) -> functions.lookupFunctionBuilder(f)).toMap,
      listeners)
  }

  /** Re-bind `df`'s ANALYZED plan onto `target` (usually a
    * [[childSession]] carrying statement-scoped SQL-conf
    * overrides, e.g. AQE off for tiny iterative rounds). The sessions
    * share one SparkContext and CacheManager, so cached/checkpointed
    * inputs keep hitting; only conf resolution changes. A thread-local
    * `SQLConf.withExistingConf` override does NOT work here — measured:
    * query planning pins the owning session's conf — which is why the
    * plan must move to the session instead of the conf to the thread. */
  def rebind(target: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    reflect("org.apache.spark.sql.classic.Dataset$.ofRows(SparkSession, LogicalPlan)") {
      val mod = Class.forName("org.apache.spark.sql.classic.Dataset$")
      mod.getMethods.find(x => x.getName == "ofRows" && x.getParameterCount == 2).get
        .invoke(mod.getField("MODULE$").get(null), target, df.queryExecution.analyzed)
        .asInstanceOf[org.apache.spark.sql.DataFrame]
    }
}
