package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * epoch Spark's listener events use, so spans and stages share one axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Executor work of one stage attempt, summed over its tasks. */
final class StageRec(val stage: Int, val attempt: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def json(withTasks: Boolean): Json.Obj = Json.Obj(Seq(
    "stage" -> stage, "attempt" -> attempt,
    "submit_ms" -> submitMs, "complete_ms" -> completeMs, "tasks" -> tasks,
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
    "peak_exec_mem" -> peakExecMem) ++
    (if (withTasks) Seq("task_ms" -> taskMs.toSeq) else Nil))
}

/** Spark-side recorder: jobs, stage attempts and their summed task metrics.
  * Always registered, since `cpu_s` and `peak_exec_mem_mb` come from it;
  * per-task run times are kept only when `keepTasks` (traced runs).
  * Listener calls arrive on one bus thread; readers drain the bus first.
  */
final class StageProbe(keepTasks: Boolean) extends SparkListener {
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]]

  private def rec(stage: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((stage, attempt), new StageRec(stage, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Array(e.time, 0L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_(1) = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = rec(i.stageId, i.attemptNumber())
    r.submitMs = i.submissionTime.getOrElse(0L)
    r.completeMs = i.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = rec(e.stageId, e.stageAttemptId)
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.cpuNs += m.executorCpuTime
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.spillBytes += m.diskBytesSpilled
      r.outputBytes += m.outputMetrics.bytesWritten
      r.peakExecMem = math.max(r.peakExecMem, m.peakExecutionMemory)
      if (keepTasks) r.taskMs += m.executorRunTime
    }
  }

  def stagesJson: Seq[Json.Obj] = synchronized(stages.values.map(_.json(keepTasks)).toSeq)
  def jobsJson: Seq[Json.Obj] = synchronized(jobs.toSeq.map { case (id, t) =>
    Json.Obj(Seq("job" -> id, "start_ms" -> t(0), "end_ms" -> t(1)))
  })
}

/** Catalyst-side recorder for traced runs: one entry per Dataset action,
  * with the summed `QueryPlanningTracker` phase times (analysis,
  * optimization, planning) and the action's first phase start.
  */
final class QueryProbe extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[Json.Obj]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val startMs = if (phases.isEmpty) 0L else phases.map(_.startTimeMs).min
    val planMs = phases.map(_.durationMs).sum
    synchronized(buf += Json.Obj(Seq("func" -> funcName, "start_ms" -> startMs,
      "plan_ms" -> planMs, "dur_ms" -> durationNs / 1e6)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def json: Seq[Json.Obj] = synchronized(buf.toSeq)
}

/** Spans around the benchmark's calls into the program. Single-threaded:
  * the harness is one closed-loop client. A disabled tracer records
  * nothing, so untraced passes pay only a flag test.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Json.Obj]
  private var stack = List.empty[Int]
  private var next = 0
  var on = false
  var traceId = ""

  private def add(id: Int, parent: Int, name: String, s: Double, e: Double): Unit =
    spans += Json.Obj(Seq("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> s, "end_ms" -> e, "trace" -> traceId))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      val s = Clock.nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        add(id, parent, name, s, Clock.nowMs)
      }
    }

  /** A span that has just ended after `sec` seconds: an `onStage` hook. */
  def ended(name: String, sec: Double): Unit =
    if (on) {
      val e = Clock.nowMs
      add(next, stack.headOption.getOrElse(-1), name, e - sec * 1000, e)
      next += 1
    }

  def json: Seq[Json.Obj] = spans.toSeq
}
