package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Scheduler counters: running totals, or the difference of two snapshots. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, busyMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long,
                        peakExecMem: Long, taskFailures: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    busyMs - o.busyMs, shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    peakExecMem, taskFailures - o.taskFailures)
}
object Counts { val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0) }

/** The benchmark's own scheduler listener. Totals only grow; callers take
  * differences of [[snapshot]]s around the work they measure. The peak
  * execution memory is the maximum since the last [[resetPeak]]. */
final class Obs extends SparkListener {
  private val active = mutable.Set.empty[Int]
  private var c = Counts.zero

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    active += e.jobId; c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { active -= e.jobId }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = if (e.taskInfo.successful) 0 else 1
    c = if (m == null) c.copy(tasks = c.tasks + 1, taskFailures = c.taskFailures + failed)
    else Counts(c.jobs, c.stages, c.tasks + 1, c.busyMs + m.executorRunTime,
      c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      math.max(c.peakExecMem, m.peakExecutionMemory), c.taskFailures + failed)
  }

  def resetPeak(): Unit = synchronized { c = c.copy(peakExecMem = 0) }

  /** Deterministic drain: deliver every posted event, then wait until each
    * job that started has also ended. Fails loudly instead of guessing. */
  def snapshot(sc: SparkContext): Counts = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var done = false
    while (!done) {
      PerfbenchBus.waitUntilEmpty(sc, 30000)
      done = synchronized(active.isEmpty)
      if (!done) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"jobs still running after 30 s: ${synchronized(active.toList)}")
        Thread.sleep(2)
      }
    }
    synchronized(c)
  }
}

/** Host and JVM stamps. */
object Host {
  /** (idle + iowait ticks, steal ticks, total ticks) from /proc/stat. */
  def cpuTicks(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((f(3) + f(4), if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  /** (idle %, steal %) between two [[cpuTicks]] readings; -1 when unknown. */
  def pct(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): (Double, Double) =
    (a, b) match {
      case (Some((i0, s0, t0)), Some((i1, s1, t1))) if t1 > t0 =>
        (100.0 * (i1 - i0) / (t1 - t0), 100.0 * (s1 - s0) / (t1 - t0))
      case _ => (-1.0, -1.0)
    }

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  def heapGb: Double = Runtime.getRuntime.maxMemory / 1e9

  /** Total collection time of every JVM collector, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
