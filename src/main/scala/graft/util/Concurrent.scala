package graft.util

/** Overlap two INDEPENDENT eager chain builds on the shared Spark
  * scheduler — the q46 RandomForest precedent (r15, 10.4 → 1.9 s) made
  * reusable. Spark happily runs several jobs at once inside one
  * application (optimization-guide §2.6); iterative builders like the
  * PageRank family are only serial because the driver thread calls their
  * per-round checkpoint actions sequentially. When a query needs TWO such
  * chains (the rank-fidelity audits build an exact and an approximate
  * ranking over the same cached topology), running them from two threads
  * makes the query cost ≈ max(chain) instead of sum(chains); neither
  * chain saturates the task slots on its own.
  *
  * The caller's [[graft.QueryCleanup]] scope is a THREAD-LOCAL, so each
  * future re-enters it explicitly — otherwise hooks registered by the
  * chains (cache releases, checkpoint frees) would land in the Unscoped
  * bucket and leak past the harness's per-query drain.
  *
  * Failure: both futures are SETTLED before the first failure (in
  * argument order) is rethrown — otherwise the surviving chain would keep
  * running jobs and registering hooks into a scope the harness is
  * already draining.
  *
  * Determinism: both builders are self-contained integer-exact pipelines;
  * interleaving their jobs changes scheduling, never results. */
object Concurrent {

  def both[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val scope = graft.QueryCleanup.activeScope
    val f1 = Future(graft.QueryCleanup.scoped(scope)(fa))
    val f2 = Future(graft.QueryCleanup.scoped(scope)(fb))
    val r1 = scala.util.Try(Await.result(f1, Duration.Inf))
    val r2 = scala.util.Try(Await.result(f2, Duration.Inf))
    (r1.get, r2.get)
  }
}
