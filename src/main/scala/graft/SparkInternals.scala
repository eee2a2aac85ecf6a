package graft

import org.apache.spark.SparkContext

/** Narrow access point for Spark-internal plumbing the public API doesn't
  * expose. Kept to TWO capabilities on purpose: draining the async
  * listener bus so per-query metric snapshots (BenchMetrics) don't race
  * stage completion events, and re-binding an analyzed plan onto another
  * session so per-query SQL-conf overrides don't mutate shared session
  * state. (Freeing checkpoint storage, which `Dataset.unpersist` can't
  * reach, belongs to [[graft.util.Truncate.release]].)
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

  /** Re-bind `df`'s ANALYZED plan onto `target` (usually a
    * `spark.newSession()` clone carrying statement-scoped SQL-conf
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
