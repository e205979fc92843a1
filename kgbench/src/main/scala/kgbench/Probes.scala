package kgbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Counters for one measured window of Spark work. */
final case class SparkWindow(
    jobs: Long,
    tasks: Long,
    cpuNs: Long,
    recordsRead: Long,
    shuffleWriteBytes: Long,
    gcMs: Long,
    wallNs: Long
) {
  def metrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble, "spark.tasks" -> tasks.toDouble,
    "spark.executor_cpu_s" -> cpuNs / 1e9, "spark.gc_s" -> gcMs / 1e3,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.cpu_util" -> Stats.cpuUtil(cpuNs, wallNs, KgBench.Cores).value)
}

/** Spark-wide counters fed by a [[SparkListener]]; the program's code is
  * not touched. GC time comes from the JVM's collectors, not task
  * metrics: in local mode all tasks share one JVM, and per-task GC time
  * counts each pause once per running task.
  */
final class SparkCounters extends SparkListener {
  private val jobs, tasks, cpuNs, recordsRead, shuffleWrite = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` and returns its value with the counters it moved. */
  def window[T](sc: SparkContext)(body: => T): (T, SparkWindow) = {
    org.apache.spark.kgbench.ListenerBusDrain(sc)
    val (j0, t0, c0, r0, s0, g0) = (jobs.get, tasks.get, cpuNs.get, recordsRead.get, shuffleWrite.get, gcMs())
    val w0 = System.nanoTime()
    val out = body
    val wall = System.nanoTime() - w0
    org.apache.spark.kgbench.ListenerBusDrain(sc)
    (out, SparkWindow(jobs.get - j0, tasks.get - t0, cpuNs.get - c0, recordsRead.get - r0,
      shuffleWrite.get - s0, gcMs() - g0, wall))
  }
}

/** One micro-batch's progress: Spark's own duration breakdown, in ms. */
final case class BatchProgress(batchId: Long, rows: Long, triggerMs: Long, addBatchMs: Long)

/** Collects every micro-batch's progress. */
final class BatchLog extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    seen.add(BatchProgress(p.batchId, p.numInputRows, ms("triggerExecution"), ms("addBatch")))
  }
  /** Batches that read input, in arrival order, then forgets them. */
  def drain(sc: SparkContext): Seq[BatchProgress] = {
    org.apache.spark.kgbench.ListenerBusDrain(sc)
    val out = Iterator.continually(seen.poll()).takeWhile(_ != null).toVector
    out.filter(_.rows > 0)
  }
}

object Host {
  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def memTotalGb(): Double = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / 1024 / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
