package graft.dev

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev measurement listener shared by the scale harnesses
  * ([[Probe]] slopes, [[StreamScale]]): sums task-level input /
  * shuffle bytes and buckets per-task run times by stage so the
  * straggler signature (one dominant key serializing a stage — a
  * max/median blowout WITHIN one stage, invisible in stage-level
  * byte totals) is measurable. The listener bus is asynchronous;
  * callers pause briefly after a run before reading totals.
  */
final class TaskMetricsListener extends SparkListener {
  val input = new LongAdder; val shufW = new LongAdder; val shufR = new LongAdder
  private val taskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      input.add(m.inputMetrics.bytesRead)
      shufW.add(m.shuffleWriteMetrics.bytesWritten)
      shufR.add(m.shuffleReadMetrics.totalBytesRead)
      taskMs.computeIfAbsent(e.stageId,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  /** Worst per-stage (max/median, max ms) over stages with ≥4 tasks
    * and a non-trivial max (≥200 ms) — tiny stages are all jitter.
    */
  def worstStageSkew(): (Double, Long) = {
    var worst = (1.0, 0L)
    taskMs.forEach { (_, q) =>
      val ds = q.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      if (ds.length >= 4 && ds.last >= 200) {
        val med = math.max(ds(ds.length / 2), 1L)
        val ratio = ds.last.toDouble / med
        if (ratio > worst._1) worst = (ratio, ds.last)
      }
    }
    worst
  }

  def reset(): Unit = {
    input.reset(); shufW.reset(); shufR.reset(); taskMs.clear()
  }
}
