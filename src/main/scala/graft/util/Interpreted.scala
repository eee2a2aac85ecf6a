package graft.util

import graft.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Spark's interpreted path for small inputs. A warm pass of the paper's
  * study on the Adult fixture (E1, E3 with its recheck, E2; 29,111 rows)
  * compiled 180–190 Janino classes and reused none of them: Spark's
  * JVM-wide codegen cache holds 100 entries and a pass cycles through
  * more. At that size compile latency is the cost,
  * not the rows (Kohn, Leis & Neumann, "Adaptive Execution of Compiled
  * Queries", ICDE 2018), so a small input runs on a clone of its session
  * with whole-stage codegen off AND expression codegen off: whole-stage
  * off alone compiled more (334–337 classes), one projection per
  * expression. The clone is a [[SparkInternals.childSession]]: one per
  * caller, remade when the caller's confs, functions or query listeners
  * change, so it always carries the current ones.
  *
  * The route is a property of the input, like
  * [[graft.ml.GraftKMeans.onDriver]]: the summed size of the optimized
  * plan's leaves, counted only when every leaf already holds its rows in
  * memory — a filled cache, which reports its exact columnar size, or a
  * local relation on the driver. That is the size the bound was measured
  * on. Any other leaf keeps the input compiled: a file scan reports its
  * size on disk, which for compressed Parquet can be a fraction of the
  * rows it decodes to, and a cache not yet filled reports its plan's
  * estimate. The root's estimate would not do: after a join it is the
  * product of both sides. No conf is toggled: the caller's
  * session keeps its own settings, and the frames a pipeline returns are
  * rebound onto it, so interpreted mode never reaches a caller's own
  * downstream plans. The sessions share one CacheManager, so a rebound
  * frame still reads a release cached on the clone. */
object Interpreted {

  /** Largest summed leaf size that runs interpreted, about half the
    * break-even. On the Adult fixture's cache (140 bytes a row) the median
    * warm study pass ran 38% faster interpreted at 29,127 rows (4.1 MB),
    * 13% at 116,310 (16.3 MB) and 10% at 232,604 (32.6 MB), and 5% slower
    * at 348,854 (48.9 MB). PERFORMANCE.md "Where a warm Adult pass goes"
    * holds the sweep. */
  private[graft] val MaxInputBytes: Long = 24L << 20

  private val Confs = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** The summed size of the leaves of `df`'s plan when every leaf is a
    * filled cache or a local relation, else None. The plan is optimized
    * afresh: `df`'s own optimized plan is fixed when first read, so it
    * would miss a cache registered or filled since. */
  private[graft] def inputBytes(df: DataFrame): Option[BigInt] = {
    val leaves = SparkInternals.rebind(df.sparkSession, df).queryExecution.optimizedPlan
      .collectLeaves()
    val inMemory = leaves.forall {
      case cache: InMemoryRelation => cache.cacheBuilder.isCachedColumnBuffersLoaded
      case _: LocalRelation => true
      case _ => false
    }
    if (inMemory) Some(leaves.map(_.stats.sizeInBytes).sum) else None
  }

  /** Whether `df` is small enough, and in memory, to run interpreted. */
  private[graft] def fits(df: DataFrame): Boolean = inputBytes(df).exists(_ <= MaxInputBytes)

  private def interpreting(spark: SparkSession): Boolean =
    Confs.forall { case (k, v) => spark.conf.getOption(k).contains(v) }

  /** `body` on `df`, rebound onto an interpreted clone of its session when
    * `route` takes it there and it is not on an interpreted session
    * already. `body`'s second argument brings a frame it returns back onto
    * the caller's session (the identity when nothing was rebound). */
  private[graft] def apply[T](df: DataFrame, route: DataFrame => Boolean = fits)(
      body: (DataFrame, DataFrame => DataFrame) => T): T = {
    val caller = df.sparkSession
    if (interpreting(caller) || !route(df)) body(df, identity)
    else body(SparkInternals.rebind(SparkInternals.childSession(caller, Confs: _*), df),
      SparkInternals.rebind(caller, _))
  }
}
