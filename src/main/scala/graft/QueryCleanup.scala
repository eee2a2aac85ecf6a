package graft

import scala.collection.mutable
import scala.util.Try

/** Post-consumption cleanup hooks for `SparkEntry.queries` entries,
  * SCOPED PER QUERY.
  *
  * A query function returns a lazy DataFrame, so a query that caches
  * upstream stages (q88's corpus pipeline) cannot unpersist them itself —
  * the caller has not materialized the plan yet. Instead the query
  * registers a hook here and the harness (Verify after writing each
  * result, Bench after each timed rep, specs directly) drains the
  * registry once the result has been fully consumed.
  *
  * WHY SCOPES: the registry used to be one global buffer, so `drain()`
  * after consuming query A also ran every hook query B had registered —
  * if a harness ever overlaps two queries in one JVM, A's drain deletes
  * B's scratch dirs and releases B's localCheckpoints MID-QUERY. That is
  * not a perf bug: a deleted scratch SnapshotStore between two of B's
  * commits makes the next commit start a FRESH chain, and an incremental
  * consumer silently no-ops its refresh — right row count, wrong values
  * (the q198 gate-only hash flake). Hooks therefore attach to the query
  * scope that was active when they were registered ([[scoped]] sets it,
  * per thread), and [[drain(name)]] runs ONLY that query's hooks.
  *
  * ORDERING CONTRACT (unchanged): drain a query's hooks only AFTER its
  * result has been fully consumed. Hooks that release plain caches are
  * benign to run early (an unpersisted cache merely recomputes), but
  * hooks that release checkpointed storage (the one every iterative
  * operator's `Truncate.leaves` registers — q76, the corpus pipeline)
  * free storage whose LINEAGE WAS TRUNCATED — after such a hook runs,
  * the associated DataFrame is unreadable, not merely slower. drain
  * swallows hook FAILURES so one broken hook can't strand the rest, but
  * it cannot make an early drain safe.
  */
object QueryCleanup {

  /** Hooks registered outside any [[scoped]] block land here (direct
    * operator use in specs/notebooks); only the no-arg [[drain]] or a
    * `drain(Unscoped)` runs them. */
  val Unscoped = ""

  private val hooks = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[() => Unit]]
  private val current = new ThreadLocal[String] {
    override def initialValue: String = Unscoped
  }

  /** Run `body` with `name` as the active hook scope on this thread
    * (restores the previous scope on exit — scopes nest). The harness
    * wraps each query's CONSTRUCTION and CONSUMPTION in its scope, then
    * calls `drain(name)`. */
  def scoped[T](name: String)(body: => T): T = {
    val prev = current.get
    current.set(name)
    try body finally current.set(prev)
  }

  /** Register a cleanup hook under the calling thread's active scope. */
  def register(f: () => Unit): Unit = {
    val scope = current.get
    synchronized { hooks.getOrElseUpdate(scope, mutable.ArrayBuffer.empty) += f }
  }

  /** Run and clear ONLY `name`'s hooks — other in-flight queries' scratch
    * and checkpoints are untouched. Idempotent when the scope is empty. */
  def drain(name: String): Unit = {
    val fs = synchronized { hooks.remove(name) }
    fs.foreach(_.foreach(f => Try(f())))
  }

  /** Run and clear ALL registered hooks, every scope. Single-query
    * callers (specs, ad-hoc sessions) use this; a multi-query harness
    * must use [[drain(name)]] instead. */
  def drain(): Unit = {
    val all = synchronized {
      val a = hooks.values.flatMap(_.iterator).toSeq
      hooks.clear()
      a
    }
    all.foreach(f => Try(f()))
  }

  /** The query scope active on the calling thread ([[Unscoped]] outside
    * any [[scoped]] block) — lets side-channel registries ([[Provenance]])
    * key by the same scope without re-threading the name. */
  private[graft] def activeScope: String = current.get

  /** Number of hooks currently registered under `name` (test hook). */
  private[graft] def pending(name: String): Int =
    synchronized { hooks.get(name).map(_.size).getOrElse(0) }
}
