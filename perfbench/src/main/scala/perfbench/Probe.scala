package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around calls into the engine's modules. Each span keeps
  * its parent's index, so self time is computed afterwards. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.length
      spans += Span(name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  def toJson: Seq[Any] = spans.toSeq.map(s =>
    Seq(s.name, s.parent, s.start / 1e9, s.end / 1e9))
}

object Tracer {
  final case class Span(name: String, parent: Int, start: Long, end: Long)
  val off = new Tracer(false)
}

/** Spark's own listener events for the jobs run while [[on]] is set: job
  * intervals, stage and task counts, task time, shuffle / spill / IO bytes,
  * and Catalyst phase times from each query's planning tracker. Registered
  * from the benchmark; reads only public listener payloads. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages, tasks = 0L
  private var runMs, cpuNs, gcMs = 0L
  private var shuffleRead, shuffleWrite, spill, input, output = 0L
  private var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (on) stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (on && m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }
  private def planned(qe: QueryExecution): Unit = synchronized {
    if (on) planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  /** Totals since the last call, then reset. */
  def take(): Map[String, Any] = synchronized {
    val r = Map[String, Any](
      "jobs" -> jobs.toSeq.map { case (s, e) => Seq(s / 1e3, e / 1e3) },
      "stages" -> stages, "tasks" -> tasks,
      "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_read_mb" -> shuffleRead / 1e6, "shuffle_write_mb" -> shuffleWrite / 1e6,
      "spill_mb" -> spill / 1e6, "input_mb" -> input / 1e6, "output_mb" -> output / 1e6,
      "plan_s" -> planMs / 1e3)
    jobStart.clear(); jobs.clear()
    stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0; input = 0; output = 0; planMs = 0
    r
  }
}
