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
  * so the project's own namespace stays honest; both fall back to a
  * behavior-preserving no-op if the internal shape ever changes. */
object SparkInternals {

  def flushListenerBus(sc: SparkContext): Unit =
    try {
      val m = sc.getClass.getMethod("listenerBus")
      val bus = m.invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      case _: Throwable => Thread.sleep(500)
    }

  /** Re-bind `df`'s ANALYZED plan onto `target` (usually a
    * `spark.newSession()` clone carrying statement-scoped SQL-conf
    * overrides, e.g. AQE off for tiny iterative rounds). The sessions
    * share one SparkContext and CacheManager, so cached/checkpointed
    * inputs keep hitting; only conf resolution changes. A thread-local
    * `SQLConf.withExistingConf` override does NOT work here — measured:
    * query planning pins the owning session's conf — which is why the
    * plan must move to the session instead of the conf to the thread.
    * Falls back to returning `df` unchanged (the override simply doesn't
    * apply — safe, never interferes) if `Dataset.ofRows`'s shape
    * changes. */
  def rebind(target: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    try {
      val mod = Class.forName("org.apache.spark.sql.classic.Dataset$")
      val m = mod.getField("MODULE$").get(null)
      val of = mod.getMethods
        .filter(x => x.getName == "ofRows" && x.getParameterCount == 2)
        .head
      of.invoke(m, target, df.queryExecution.analyzed)
        .asInstanceOf[org.apache.spark.sql.DataFrame]
    } catch {
      case _: Throwable => df
    }
}
