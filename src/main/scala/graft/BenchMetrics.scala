package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-query resource metrics for the bench harness — the Spark analog of
  * the reference's RSS probe (naive-suppresion.py:132-134 and
  * t-closeness.py:242-244 print `psutil`-style process RSS after each
  * pipeline stage). On Spark the interesting resources are distributed, so
  * the listener aggregates executor-side task metrics per completed stage:
  *
  *   - shuffle read/write bytes   — the scale currency: what actually
  *     crosses the network on a real cluster (local[32] moves it through
  *     memory, but the BYTES are the same, so the numbers transfer).
  *   - input bytes                — what the scans read after pruning;
  *     a projection that defeats column pruning shows up here.
  *   - spill bytes (mem + disk)   — nonzero means a partition outgrew the
  *     execution-memory slice; the first thing to check before a 100×
  *     scale-up.
  *   - peak execution memory      — max over stages of the summed per-task
  *     operator-memory peaks (hash maps, sort buffers); an upper bound on
  *     concurrent execution-memory demand for the stage.
  *
  * Driver RSS (VmRSS / peak VmHWM from /proc/self/status) is sampled
  * separately — in local mode it covers the whole JVM and is directly
  * comparable to the reference's single-process numbers.
  *
  * Counters are cumulative; `snapshot` diffs against the previous snapshot
  * so the bench attributes deltas to the query that just ran. Stage
  * completion events are delivered async on the listener bus —
  * `SparkInternals.flushListenerBus` drains it before every snapshot.
  */
final class BenchMetricsListener extends SparkListener {
  private val shuffleRead = new AtomicLong(0L)
  private val shuffleWrite = new AtomicLong(0L)
  private val input = new AtomicLong(0L)
  private val spilled = new AtomicLong(0L)
  private val peakExecMem = new AtomicLong(0L)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(m.inputMetrics.bytesRead)
      spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
    }
  }

  /** Cumulative totals: (shuffleRead, shuffleWrite, input, spilled,
    * peakExecMem). The additive counters are diffed between consecutive
    * snapshots; the peak is a max, so `resetPeak` rearms it per query. */
  def totals: (Long, Long, Long, Long, Long) =
    (shuffleRead.get(), shuffleWrite.get(), input.get(), spilled.get(),
      peakExecMem.get())

  def resetPeak(): Unit = peakExecMem.set(0L)
}

object BenchMetrics {

  /** One query's resource footprint, in MiB (floating to keep sub-MiB
    * shuffles visible at small SF). */
  final case class ResourceSnapshot(shuffleReadMb: Double, shuffleWriteMb: Double,
                                    inputMb: Double, spillMb: Double,
                                    peakExecMemMb: Double, rssMb: Double,
                                    rssHwmMb: Double, commitSec: Double = 0.0,
                                    codegenCompiles: Long = 0L) {
    def json: String =
      f"""{"shuffle_read_mb":$shuffleReadMb%.3f,"shuffle_write_mb":$shuffleWriteMb%.3f,""" +
        f""""input_mb":$inputMb%.3f,"spill_mb":$spillMb%.3f,""" +
        f""""peak_exec_mem_mb":$peakExecMemMb%.3f,"rss_mb":$rssMb%.1f,"rss_hwm_mb":$rssHwmMb%.1f,""" +
        f""""commit_sec":$commitSec%.3f,"codegen_compiles":$codegenCompiles}"""
  }

  /** Janino classes this JVM has compiled so far (Spark's codegen
    * metrics; a class served from the codegen cache is not counted). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Current (VmRSS, VmHWM) of this JVM in MiB from /proc/self/status;
    * (-1, -1) on non-Linux. VmHWM is the process's lifetime peak RSS —
    * the exact quantity the reference prints. */
  def rssMb: (Double, Double) = {
    val p = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.isReadable(p)) (-1.0, -1.0)
    else {
      var rss = -1.0
      var hwm = -1.0
      val it = java.nio.file.Files.readAllLines(p).iterator()
      while (it.hasNext) {
        val line = it.next()
        if (line.startsWith("VmRSS:")) rss = line.replaceAll("[^0-9]", "").toDouble / 1024.0
        else if (line.startsWith("VmHWM:")) hwm = line.replaceAll("[^0-9]", "").toDouble / 1024.0
      }
      (rss, hwm)
    }
  }

  /** Drain the listener bus, then diff the listener's cumulative totals
    * against `prev` (a previous `totals` tuple) into a per-query snapshot,
    * and rearm the peak counter for the next query. `commitSec` is the
    * caller-computed SnapshotStore commit-time delta (per-execution). */
  def snapshot(sc: SparkContext, listener: BenchMetricsListener,
               prev: (Long, Long, Long, Long, Long),
               commitSec: Double = 0.0): ResourceSnapshot = {
    graft.SparkInternals.flushListenerBus(sc)
    val (sr, sw, in, sp, pk) = listener.totals
    listener.resetPeak()
    val (rss, hwm) = rssMb
    ResourceSnapshot(mb(sr - prev._1), mb(sw - prev._2), mb(in - prev._3),
      mb(sp - prev._4), mb(pk), rss, hwm, commitSec)
  }
}
