package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** The one owner of lineage truncation for iterative state: how a round's
  * state is cut to a plan leaf ([[apply]], [[observed]]), how a leaf is
  * freed ([[release]]), and which leaves an operator still holds
  * ([[Leaves]]). No other module checkpoints or frees checkpoints.
  *
  * `localCheckpoint(eager = true)` is the right call in local mode and for
  * executor-stable clusters: it materializes the state into executor
  * storage and cuts the logical plan to a leaf (the r16 win — constant
  * plan size per iteration instead of 689-Exchange plans). But the blocks
  * are UNREPLICATED and the lineage is gone, so on a real cluster one
  * executor loss mid-run makes a long iterative job unrecoverable — it
  * fails the query instead of recomputing. At 100 TB, where an iteration
  * chain holds tens of checkpoints across hundreds of executors, that is
  * a near-certainty, so the non-local default switches to RELIABLE
  * `checkpoint(eager = true)` into durable storage (same plan truncation,
  * executor-loss-safe).
  *
  * Strategy conf `spark.graft.truncate`:
  *  - `auto` (default): localCheckpoint when the master is `local[*]`,
  *    reliable checkpoint otherwise;
  *  - `reliable`: always reliable checkpoint (belt-and-braces locally,
  *    e.g. for spec coverage of the cluster path).
  *
  * The reliable path needs a checkpoint directory: an already-set
  * `SparkContext.setCheckpointDir` wins, else `spark.graft.checkpointDir`
  * is applied. With neither configured the call fails: falling back to
  * localCheckpoint would hand back exactly the executor-loss-unsafe leaf
  * the strategy was chosen to avoid.
  *
  * Freeing is the other half: a leaf's storage has no CacheManager entry,
  * so `Dataset.unpersist` on a truncated frame is a no-op — only
  * [[release]] reaches the checkpointed RDD's blocks, and for a reliable
  * leaf its checkpoint directory, which would otherwise pile up one per
  * round on a cluster. */
object Truncate {

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val reliable = spark.conf.get("spark.graft.truncate", "auto") match {
      case "reliable" => true
      case "auto"     => !sc.master.startsWith("local")
      case other => throw new IllegalArgumentException(
        s"spark.graft.truncate=$other: expected auto or reliable")
    }
    if (!reliable) df.localCheckpoint(eager = true)
    else {
      if (sc.getCheckpointDir.isEmpty)
        spark.conf.getOption("spark.graft.checkpointDir") match {
          case Some(d) => sc.setCheckpointDir(d)
          case None => throw new IllegalStateException("truncate strategy " +
            "'reliable' needs a checkpoint directory: set spark.graft.checkpointDir " +
            "or call SparkContext.setCheckpointDir")
        }
      df.checkpoint(eager = true)
    }
  }

  /** [[apply]] that also returns `metrics` (integral aggregates over the
    * rows, by name; an empty sum reads 0) computed by the SAME
    * materialization job: CollectMetrics accumulators fill while the
    * checkpoint writes (Dataset.checkpoint runs through withAction, so the
    * Observation sees it). A convergence probe then costs no job of its
    * own — one fewer serial driver stall per round of a loop that is
    * round-count × job-floor bound, not data bound.
    *
    * The read does NOT flush the listener bus: `Observation.get` already
    * blocks until its own event arrives, which the finished job has
    * posted, while a flush waits for EVERY queue — behind a job with a
    * large task-event backlog that stalls (measured r17: 4.26 -> 5.00 s
    * on q88). A same-JVM interleaved A/B of flushing on q278 and q314
    * measured no gain from it either. */
  def observed(df: DataFrame)(metrics: Column*): (DataFrame, Map[String, Long]) = {
    val obs = org.apache.spark.sql.Observation(
      s"truncate_${java.util.UUID.randomUUID.toString.replace("-", "")}")
    val leaf = apply(df.observe(obs, metrics.head, metrics.tail: _*))
    (leaf, obs.get.map { case (k, v) => k -> (if (v == null) 0L else v.asInstanceOf[Long]) })
  }

  /** Free the storage behind every checkpointed leaf of `df`'s plan: the
    * checkpointed RDD's blocks, and a reliable checkpoint's directory.
    * The walk goes down first dependencies to the checkpointed RDD, so a
    * leaf re-wrapped as a fresh frame (Mondrian's stats reset layers a
    * conversion RDD on top) is freed too. Only safe once nothing will
    * re-read the leaf: its lineage is truncated, so a freed leaf cannot
    * recompute. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Iterator.iterate[org.apache.spark.rdd.RDD[_]](lr.rdd)(
            _.dependencies.headOption.map(_.rdd).orNull)
          .takeWhile(_ != null).find(_.isCheckpointed).foreach { rdd =>
            rdd.unpersist(blocking = false)
            rdd.getCheckpointFile.foreach { f =>
              val p = new org.apache.hadoop.fs.Path(f)
              p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true)
            }
          }
      case _ => ()
    }

  /** The leaves one iterative operator holds, freed together with the
    * `caches` (its persisted topology) by ONE cleanup hook registered
    * under the caller's query scope when the tracker is made — so the
    * survivors release at the query's drain even if the loop throws. */
  def leaves(caches: DataFrame*): Leaves = new Leaves(caches)

  final class Leaves private[Truncate] (caches: Seq[DataFrame]) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    graft.QueryCleanup.register(() => {
      caches.foreach(_.unpersist()); held.foreach(release); held.clear()
    })

    /** Hold `leaf` until the query's cleanup (the output still reads it). */
    def keep(leaf: DataFrame): DataFrame = { held += leaf; leaf }

    /** `leaf` is the materialized successor of every held leaf: free them
      * now and hold `leaf` instead — at most two state-sized leaves live
      * at once. */
    def supersede(leaf: DataFrame): DataFrame = {
      held.foreach(release); held.clear(); keep(leaf)
    }
  }
}
