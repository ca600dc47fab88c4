package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark engine counters, attributed to the span that was open when each
  * job was submitted (the `perfbench.span` local property; -1 when no span
  * was open). Events arrive on the listener bus thread, so every access is
  * synchronised; [[flush]] waits until the bus has delivered them all.
  */
final class EngineListener extends SparkListener {
  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var taskBusyMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var outputBytes, outputRecords, peakExecMem = 0L

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; taskBusyMs += o.taskBusyMs
      gcMs += o.gcMs; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
      outputBytes += o.outputBytes; outputRecords += o.outputRecords
      peakExecMem = math.max(peakExecMem, o.peakExecMem)
    }

    def toMap: Seq[(String, Double)] = Seq[(String, Double)](
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_busy_s" -> taskBusyMs / 1e3, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
      "output_bytes" -> outputBytes, "output_records" -> outputRecords,
      "peak_exec_mem_bytes" -> peakExecMem, "gc_s" -> gcMs / 1e3,
      "failed_tasks" -> failedTasks)
  }

  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val c = counters(span)
    c.jobs += 1
    c.stages += e.stageInfos.size
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskBusyMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Waits until every posted event has been delivered. */
  def flush(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.perfbench.Bus.drain(sc)

  def snapshot(): Map[Int, Counters] = synchronized {
    bySpan.map { case (k, v) =>
      val c = new Counters; c.add(v); k -> c
    }.toMap
  }

  def reset(): Unit = synchronized { bySpan.clear(); stageSpan.clear() }
}
