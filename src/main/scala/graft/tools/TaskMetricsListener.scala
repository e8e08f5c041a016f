package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import TaskMetricsListener.StageStat

/** Shared task-level measurement for the scale-evidence tools
  * (SkewStress / SpillStress / ProbeL12C) and GraphRankSpec: spill,
  * straggler, peak task memory, shuffle volume, and a per-stage
  * straggler breakdown. One implementation so the tools whose numbers
  * are compared against each other measure identically.
  */
final class TaskMetricsListener extends SparkListener {
  val spilledBytes = new AtomicLong(0L)
  val maxTaskMs = new AtomicLong(0L)
  val peakExecMem = new AtomicLong(0L)
  val shuffleWriteBytes = new AtomicLong(0L)
  private val eventsSeen = new AtomicLong(0L)
  /** Per-stage straggler attribution, stage id -> name, task count and
    * max task ms: a scan stage burning tens of seconds of single-task
    * time on a GFLOP-scale pass is an interpreted-codegen fallback.
    */
  val stages = new scala.collection.concurrent.TrieMap[Int, StageStat]()

  private def raiseTo(a: AtomicLong, v: Long): Unit = {
    var cur = a.get()
    while (v > cur && !a.compareAndSet(cur, v)) cur = a.get()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val ms = te.taskInfo.duration
    stages.updateWith(te.stageId) {
      case Some(s) => Some(s.copy(tasks = s.tasks + 1,
        maxTaskMs = math.max(s.maxTaskMs, ms)))
      case None => Some(StageStat(te.taskType, 1, ms))
    }
    eventsSeen.incrementAndGet()
    Option(te.taskMetrics).foreach { m =>
      spilledBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      raiseTo(peakExecMem, m.peakExecutionMemory)
      raiseTo(maxTaskMs, ms)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    eventsSeen.incrementAndGet()
    val si = sc.stageInfo
    stages.updateWith(si.stageId) {
      case Some(s) => Some(s.copy(name = si.name.take(70)))
      case None => Some(StageStat(si.name.take(70), si.numTasks, 0L))
    }
  }

  def reset(): Unit = {
    spilledBytes.set(0L); maxTaskMs.set(0L)
    peakExecMem.set(0L); shuffleWriteBytes.set(0L)
    stages.clear()
  }

  /** Wait for the async listener bus to go quiescent: poll the
    * task-end and stage-end count until it is stable across two 100 ms
    * windows (a fixed 300 ms sleep undercounted under heavy stages,
    * where the bus lags behind the last action by more than that),
    * bounded at 5 s. Quiescence proves DELIVERY has caught up; it
    * cannot recover events the bus DROPPED outright — if
    * `spark.scheduler.listenerbus.eventqueue.capacity` (default 10000)
    * overflows, Spark logs the drop and the affected counters
    * undercount. None of the evidence tools' stages approach 10k
    * tasks, so stale delivery, not overflow, is the realistic risk.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    var prev = -1L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val cur = eventsSeen.get()
      stable = if (cur == prev) stable + 1 else 0
      prev = cur
    }
  }

  def spillMb: Long = spilledBytes.get() >> 20
  def peakExecMemMb: Long = peakExecMem.get() >> 20
  def shuffleWriteMb: Long = shuffleWriteBytes.get() >> 20
  def maxTaskSec: Double = maxTaskMs.get() / 1e3
}

object TaskMetricsListener {
  def installed(spark: SparkSession): TaskMetricsListener = {
    val l = new TaskMetricsListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  final case class StageStat(name: String, tasks: Int, maxTaskMs: Long)
}
