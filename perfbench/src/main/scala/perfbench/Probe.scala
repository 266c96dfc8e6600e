package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted for one benchmark span (a build, drain, open or check
  * phase) from Spark's own task metrics. */
final class Counters {
  var jobs, tasks, failedTasks = 0L
  var cpuNs, shuffleWriteB, shuffleReadB, spillB = 0L
  var gcMs, fetchWaitMs, schedDelayMs, planMs = 0L

  def json: Json.Obj = Json.Obj(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "cpu_s" -> cpuNs / 1e9, "shuffle_write_mb" -> shuffleWriteB / 1e6,
    "shuffle_read_mb" -> shuffleReadB / 1e6, "spill_mb" -> spillB / 1e6,
    "gc_s" -> gcMs / 1e3, "fetch_wait_s" -> fetchWaitMs / 1e3,
    "sched_delay_s" -> schedDelayMs / 1e3, "plan_s" -> planMs / 1e3)
}

/** A Spark job as a child of the benchmark span whose id it carried. */
final case class JobSpan(jobId: Int, span: Int, startMs: Long, endMs: Long,
                         stages: Int, ok: Boolean)

/** Listener registered by the benchmark only. It attributes each job,
  * stage and task to the benchmark span named by the [[Probe.SpanKey]]
  * local property of the thread that submitted it. Spark copies local
  * properties into the threads it starts for a query (broadcasts,
  * streaming micro-batches), so work those threads submit is attributed
  * too. Planning time comes from each query execution's planning
  * tracker and goes to the span running when the bus delivers it; the
  * runner drains the bus at every span end, so that is the right one. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var current: Int = -1

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long, Int)]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  val jobs = ArrayBuffer.empty[JobSpan]

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Probe.SpanKey)))
      .map(_.toInt).getOrElse(current)

  private def of(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Counters of a finished span; call after draining the bus. */
  def take(span: Int): Counters =
    Option(counters.remove(span)).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    of(span).jobs += 1
    jobStart.put(e.jobId, (span, e.time, e.stageInfos.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0, n) =>
      jobs += JobSpan(e.jobId, span, t0, e.time, n, e.jobResult == JobSucceeded)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrDefault(e.stageId, current))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running or returning the result
      val i = e.taskInfo
      val getting = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      c.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - getting)
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    of(current).planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

object Probe {
  val SpanKey = "perfbench.span"
}
