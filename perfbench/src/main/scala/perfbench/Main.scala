package perfbench

import graft.BenchMetrics
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Closed-loop benchmark: one client thread runs whole passes of a
  * workload back to back on `local[threads]`, with `cpus` shuffle
  * partitions.
  *
  * A run starts a SparkSession, generates the workload's inputs from the
  * seed, and runs warm-up passes; all of that is `setup_s`. With
  * `--trace 0` it then runs timed passes until `--seconds` have elapsed
  * (at least one) and reports the end-to-end metrics. With `--trace 1` it
  * runs an untraced, a traced and an untraced pass, and reports the
  * per-layer metrics of the traced one. The last stdout line is the JSON
  * result; the spans of every pass are written to the `--spans` file at
  * the end.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *          --cpus N --threads N --work DIR --spans FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val threads = opt("threads").toInt
    val work = Paths.get(opt("work")).toAbsolutePath

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // scan splits and RDD partitions as on local[cpus]
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def log(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s after JVM start: $what")
    log("session started")

    val workload = Workload(workloadName, spark, seed, work)
    val rec = new Recorder
    workload.prepare()
    log("inputs written and read")
    (1 to workload.warmupPasses).foreach(_ => rec.run(workload))
    log(s"${workload.warmupPasses} warm-up passes done")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - rec.checkSeconds

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var bySpan = Map.empty[String, Map[String, Double]]
    if (!trace) {
      val passes = mutable.ArrayBuffer.empty[Double]
      val cpu0 = Proc.cpuSeconds() - rec.checkCpuSeconds
      val t0 = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += rec.run(workload)
      val cpuS = (Proc.cpuSeconds() - rec.checkCpuSeconds - cpu0) / passes.size
      metrics("pass_s") = (median(passes.toSeq), "s")
      metrics("cpu_s") = (cpuS, "s")
      metrics("setup_s") = (setupS, "s")
      metrics("peak_rss_mb") = (BenchMetrics.rssMb._2, "MB") // VmHWM
    } else {
      // untraced passes on both sides of the traced one, so that drift
      // between passes does not read as tracing overhead
      val before = rec.run(workload)
      val tracer = new Tracer(spark)
      tracer.install()
      val traced = rec.run(workload)
      val tracedPass = rec.pass
      tracer.uninstall()
      val untraced = (before + rec.run(workload)) / 2
      val spans = rec.passSpans(tracedPass)
      bySpan = tracer.metrics(spans)
      for (span <- Layers.Spans; m <- Tracer.SpanMetrics)
        metrics(s"$span.$m") = (bySpan.get(span).map(_(m)).getOrElse(0.0), Layers.unit(m))
      for (q <- Layers.Queries; (phase, key) <- Seq("build" -> "build_s", "exec" -> "exec_s"))
        metrics(s"queries.$q.$key") = (spans.filter(s => s.label == q &&
          s.name == s"queries.$phase").map(_.wallNs / 1e9).sum, "s")
      metrics("trace.overhead") = (traced / untraced - 1, "ratio")
      metrics("trace.coverage") = (spans.map(_.wallNs / 1e9).sum / traced, "ratio")
    }
    writeSpans(Paths.get(opt("spans")), rec.spans.toSeq, bySpan)
    spark.stop()

    rec.problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${rec.problems.isEmpty}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeSpans(file: Path, spans: Seq[Span],
                         bySpan: Map[String, Map[String, Double]]): Unit = {
    Files.createDirectories(file.getParent)
    val lines = spans.map(s =>
      s"""{"pass": ${s.pass}, "span": "${s.name}", "label": "${s.label}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_s": ${num(s.wallNs / 1e9)}}""") ++
      bySpan.toSeq.sortBy(_._1).map { case (name, ms) =>
        s"""{"traced_pass_totals": "$name", """ +
          ms.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") + "}"
      }
    Files.write(file, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Process counters read from Linux's /proc. */
object Proc {
  // Linux reports process CPU in USER_HZ ticks, fixed at 100 for userspace
  private val TicksPerSecond = 100.0

  /** utime + stime of this process (driver and executors in local mode). */
  def cpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.US_ASCII)
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / TicksPerSecond // fields 14 and 15 of stat(5)
  }
}

/** The spans every traced run reports, in the repository's module terms. */
object Layers {
  val Spans: Seq[String] = Seq("sources.load", "pipelines.e1", "pipelines.e3",
    "pipelines.e3_recheck", "pipelines.e2", "queries.build", "queries.exec")
  val Queries: Seq[String] = Seq("q278_kcore", "q290_label_prop")

  def unit(metric: String): String = metric match {
    case "jobs" | "stages" | "tasks" => "count"
    case m if m.endsWith("_mb") => "MB"
    case _ => "s"
  }
}
