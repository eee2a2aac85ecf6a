package graft
import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

object Bench {

  /** Per-query medians from a prior round's `bench_detail.json` line —
    * the cross-round reference the drift detector compares against.
    * Tolerant: a missing/corrupt file returns empty (first round, or a
    * format change) rather than failing the bench. */
  def parsePriorMedians(json: String): Map[String, Double] = {
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(json) \ "queries" match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Queries whose in-bench median moved vs the prior round by more than
    * `factor` either way — the channel the rep-spread requeue structurally
    * cannot see (uniformly slow reps look calm; r15 shipped q296
    * 0.49->3.54 s and q297 0.91->6.04 s unflagged that way). A speed-up
    * that large is as suspect as a slow-down (a skipped step, a cached
    * input), so both get the re-measure. The absolute floor, on the larger
    * of the two medians, keeps sub-noise queries (0.1->0.3 s) from burning
    * 9-rep re-measures. Deterministic order (name asc). */
  def driftCandidates(current: Map[String, Double], prior: Map[String, Double],
                      factor: Double = 2.5,
                      floorSec: Double = 0.5): Seq[String] =
    current.toSeq.sortBy(_._1).collect {
      case (name, med) if prior.get(name).exists(p => p > 0 &&
        math.max(med, p) >= floorSec && (med > factor * p || med < p / factor)) => name
    }

  /** Max/min ratio of a query's reps — the rep-spread guard's measure of
    * a host hiccup (page-cache eviction, a competing build, GC storm):
    * the r13 artifact recorded q130 at 29.9 s (reps 5.1-52.7) against
    * 3.3 s isolated, burning ~35 s of phantom regression. Rep 1 is left
    * out: it carries JIT, codegen and in-JVM memo fills (the slowest rep
    * for 329 of 333 queries in the committed bench_detail.json), so it
    * would flag warm-up, not hiccups. It still counts in the median,
    * which tolerates one outlier in five. */
  private[graft] def repSpread(runs: Seq[Option[Double]]): Double = {
    val ok = runs.drop(1).flatten
    if (ok.size < 2 || ok.min <= 0) 1.0 else ok.max / ok.min
  }

  /** Spread above which a query is re-measured. Sub-3s queries flip on
    * smaller absolute hiccups (r14: q26 drifted 0.84->2.31 s with spread
    * 2.2x, under the 3x trigger — its drifted median sat in [1,3) s, so
    * the tighter limit must cover the whole sub-3s band, not just
    * sub-1s), so the threshold tightens to 2x below a 3 s median. */
  private[graft] def spreadLimit(med: Double): Double =
    if (med < 3.0) 2.0 else 3.0

  /** For drift-flagged queries, the PUBLISHED median is the post-sweep
    * 9-rep re-measure, UNCONDITIONALLY (r17, closing the r16 verdict's
    * "What's wrong #3": the r16 artifact published q275 = 1.833 s in
    * `queries` while its own drift row showed 0.205/0.475 s — every
    * consumer of the map, including the next round's PERF comparison,
    * read a phantom 4–9x regression). Unconditional — not min-of-the-two
    * — keeps the r15 rule that banned one-sided selection: a query whose
    * calm re-measure is SLOWER publishes the slower number too. Both
    * values stay side by side in the `drift` section, so the artifact
    * remains self-attributing. A failed re-measure (iso <= 0) keeps the
    * in-bench median. */
  def publishDriftMedians(medians: Seq[(String, Double)],
                          driftIso: Map[String, Double]): Seq[(String, Double)] =
    medians.map { case (k, v) =>
      k -> driftIso.get(k).filter(_ > 0).getOrElse(v)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val scalingSet = BenchScaling.scalingFactor(sys.env.get("SPARK_GRAFT_SCALING_SET")) match {
      case Left(msg) => System.err.println(msg); sys.exit(2)
      case Right(k) => k
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/session so the first timed queries don't pay codegen/
    // classloading/page-cache startup: touch every table family the bench
    // queries read (relational, events, documents, embeddings), not just
    // orders — a cold documents.parquet made round-6's q30-q45 block read
    // 5-31x slower than the identical code one round earlier.
    Seq("orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      Try(spark.read.parquet(s"$sfDir/$t.parquet").count())
    }
    // Opt-in scaling-sentinel mode (r17, closing the r16 verdict's "sf0.1
    // cannot demonstrate parallelism"): SPARK_GRAFT_SCALING_SET=<k> benches
    // the fixed heavy-operator sentinel set over inputs amplified k-fold
    // in-flight and prints its own one-line JSON INSTEAD of the main
    // suite (run it at two SPARK_GRAFT_CPUS values and compare). Without
    // the env var this block is inert and the bench below is unchanged.
    scalingSet match {
      case Some(k) =>
        BenchScaling.run(spark, sfDir, k, reps)
        spark.stop()
        return
      case None => ()
    }
    // Each query runs `reps` times and reports the MEDIAN, so a one-off
    // JIT/GC/IO hiccup can't masquerade as a regression between rounds. A
    // query that throws is listed in `failed` and contributes no timing —
    // timing the exception path would report a crash as a fast success.
    // Per-rep times are emitted too ("reps_sec"), so a phantom regression
    // (one slow rep from an environment event) is visibly an outlier in
    // the JSON instead of a silently shifted median.
    // R2 resource metrics: executor-side shuffle/input/spill/peak-memory
    // per query (summed over reps, reported per-execution) plus driver
    // RSS — see BenchMetrics for why these are the numbers that transfer
    // from local[32] to a real cluster.
    val metricsListener = new BenchMetricsListener
    spark.sparkContext.addSparkListener(metricsListener)
    // SPARK_GRAFT_ONLY=q125_pagerank,q128_kmv_grouped — idle re-measure
    // of specific queries without the 177-query run around them
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  nReps: Int = reps)
        : (String, Option[Double], Seq[Option[Double]], BenchMetrics.ResourceSnapshot) = {
      SparkInternals.flushListenerBus(spark.sparkContext)
      metricsListener.resetPeak()
      val before = metricsListener.totals
      val beforeCommitSec = graft.sources.SnapshotStore.commitSeconds
      val beforeCompiles = BenchMetrics.codegenCompiles
      val runs = (1 to nReps).map { _ =>
        val t0 = System.nanoTime()
        // Execute the query's own physical plan (all output columns
        // materialized). A bare .count() would let Catalyst prune every
        // per-row projection and time an empty scan instead.
        val r = Try(QueryCleanup.scoped(name) {
          fn(spark, sfDir).queryExecution.toRdd.count()
        }) match {
          case Success(_) => Some((System.nanoTime() - t0) / 1e9)
          case Failure(e) =>
            System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
            None
        }
        QueryCleanup.drain(name) // release THIS query's caches (untimed)
        r
      }
      val snap = BenchMetrics.snapshot(spark.sparkContext, metricsListener, before,
        commitSec =
          (graft.sources.SnapshotStore.commitSeconds - beforeCommitSec) / nReps)
      // Additive counters accumulated across `reps` executions — divide to
      // a per-execution figure (peak and RSS are maxima, left as-is;
      // codegen compiles stay the total over the reps: a warm rep that
      // still compiles shows the codegen cache is not holding).
      val perExec = snap.copy(
        shuffleReadMb = snap.shuffleReadMb / nReps,
        shuffleWriteMb = snap.shuffleWriteMb / nReps,
        inputMb = snap.inputMb / nReps,
        spillMb = snap.spillMb / nReps,
        codegenCompiles = BenchMetrics.codegenCompiles - beforeCompiles)
      val ok = runs.flatten.sorted
      (name, if (ok.size == nReps) Some(ok(ok.size / 2)) else None, runs, perExec)
    }
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val firstPass = queryList.map { case (name, fn) => timeQuery(name, fn) }
    // Rep-spread guard: a query whose [[repSpread]] exceeds its
    // [[spreadLimit]] is RE-MEASURED once after the main sweep and the
    // post-sweep measurement published UNCONDITIONALLY (the retry runs in
    // the calmer environment; keeping whichever median is smaller — the
    // pre-r15 rule — re-measured noisy queries exclusively downward, a
    // one-sided selection that biases totals optimistically and can mask
    // a real regression that once showed >3x spread). Both medians land
    // in the detail JSON so the artifact is self-attributing.
    val requeued = scala.collection.mutable.ArrayBuffer.empty[String]
    val requeueMedians =
      scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val timed = firstPass.map { t =>
      val (name, med, runs, _) = t
      if (med.exists(_ > 0.25) && repSpread(runs) > spreadLimit(med.get)) {
        requeued += name
        System.err.println(f"[bench] $name rep spread ${repSpread(runs)}%.1fx " +
          f"> ${spreadLimit(med.get)}%.0fx — re-measuring after the sweep")
        val retry = timeQuery(name, SparkEntry.queries(name))
        if (retry._2.isDefined) {
          requeueMedians += ((name, med.getOrElse(-1.0), retry._2.get))
          retry
        } else t // retry failed a rep: keep the complete first pass
      } else t
    }
    val medians = timed.collect { case (k, Some(v), _, _) => k -> v }
    // Cross-round drift detection: the rep-spread requeue only sees
    // INTRA-run noise — a query that runs uniformly slow (all reps
    // consistent, just 3-6x the prior round) sails through it, which is
    // exactly how r15 shipped q296 0.49->3.54 s, q297 0.91->6.04 s and
    // q293 unflagged. So after the sweep, compare each median to the
    // previous round's committed bench_detail.json; any median > 2.5x
    // its prior (and >= 0.5 s absolute) is re-measured at 9 reps in the
    // calm post-sweep tail. The re-measure is what `queries` publishes
    // (see [[publishDriftMedians]]); the `drift` section keeps it beside
    // the in-bench median as the attribution. Skipped for filtered
    // probe runs (SPARK_GRAFT_ONLY) — no stable prior mapping there.
    val priorMedians: Map[String, Double] =
      if (only.isDefined) Map.empty
      else {
        val f = java.nio.file.Paths.get("bench_detail.json")
        if (java.nio.file.Files.exists(f))
          parsePriorMedians(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        else Map.empty
      }
    val driftRows = driftCandidates(medians.toMap, priorMedians).map { name =>
      val inBench = medians.toMap.apply(name)
      val prior = priorMedians(name)
      System.err.println(f"[bench] $name drifted ${inBench / prior}%.1fx vs " +
        f"prior round ($prior%.2f -> $inBench%.2f s) — 9-rep post-sweep re-measure")
      val iso = timeQuery(name, SparkEntry.queries(name), nReps = 9)
      (name, prior, inBench, iso._2.getOrElse(-1.0))
    }
    val failed = timed.collect { case (k, None, _, _) => k }
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // drift-flagged queries publish their calm post-sweep re-measure as
    // the primary median (see [[publishDriftMedians]]); the in-bench
    // median stays visible in the drift section
    val published = publishDriftMedians(medians,
      driftRows.map { case (k, _, _, iso) => k -> iso }.toMap)
    val total = published.map(_._2).sum
    // Full-fidelity report (long names, full-precision medians, per-rep
    // arrays) goes to a FILE: the harness that collects stdout keeps only
    // the last ~2000 characters, and an 88-query JSON line with long keys
    // blows past that — every earlier round's report arrived decapitated
    // (BENCH_r0{1..7}.json "parsed": null, tail starting mid-line).
    val qsFull = published.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val rs = timed.map { case (k, _, runs, _) =>
      "\"" + k + "\":" + runs.map(_.fold("null")(_.toString)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val res = timed.map { case (k, _, _, snap) => "\"" + k + "\":" + snap.json }
      .mkString("{", ",", "}")
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val rq = requeued.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rqm = requeueMedians.map { case (k, first, retry) =>
      "\"" + k + "\":[" + first + "," + retry + "]"
    }.mkString("{", ",", "}")
    val driftFull = driftRows.map { case (k, prior, inBench, iso) =>
      "\"" + k + "\":{\"prior\":" + prior + ",\"in_bench\":" + inBench +
        ",\"postsweep_9rep\":" + iso + "}"
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"reps_sec":$rs,"resources":$res,"failed":$fs,"requeued":$rq,"requeue_medians":$rqm,"drift":$driftFull,"load_avg_end":$loadAvg,"reps":$reps,"sf":"$sfDir"}"""
    // a filtered run (SPARK_GRAFT_ONLY) is an iteration probe — writing
    // its 2-query detail over the round artifact silently destroys the
    // full suite's record (it did, once); route it to a side file
    val detailPath = java.nio.file.Paths.get(
      if (only.isDefined) "bench_detail_only.json" else "bench_detail.json")
    java.nio.file.Files.write(detailPath, (detail + "\n").getBytes("UTF-8"))
    System.err.println(s"[bench] full per-rep detail written to ${detailPath.toAbsolutePath}")
    // The ONE stdout JSON line must fit the 2000-char tail with room for
    // the build tool's trailing success banner, so it uses the unambiguous
    // qNN prefix of each query name (queries are named qNN_description;
    // the full names are in bench_detail.json and SparkEntry.queries) and
    // millisecond precision. ~1.2 KB for 88 queries.
    def short(name: String): String = name.takeWhile(_ != '_')
    val qs = published.map { case (k, v) => "\"" + short(k) + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val fsShort = failed.map("\"" + short(_) + "\"").mkString("[", ",", "]")
    // compact drift echo on stdout: [prior, in_bench, postsweep_9rep] —
    // a handful of entries at most, so it fits the 2000-char tail
    val driftShort = driftRows.map { case (k, prior, inBench, iso) =>
      "\"" + short(k) + f"""\":[$prior%.3f,$inBench%.3f,$iso%.3f]"""
    }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$fsShort,"drift":$driftShort,"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
