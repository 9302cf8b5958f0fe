package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters summed over every job of the SparkContext. */
final case class ExecCounters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleWriteRecords: Long = 0,
    fetchWaitMs: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0,
    jobBusyMs: Long = 0) {
  def -(o: ExecCounters): ExecCounters = ExecCounters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleWriteRecords - o.shuffleWriteRecords,
    fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes, inputBytes - o.inputBytes,
    jobBusyMs - o.jobBusyMs)
}

/** Stage/task listener the benchmark registers on the context. Events
  * arrive on Spark's asynchronous listener bus: read `snapshot` only
  * after `org.apache.spark.BenchBus.drain`. `jobBusyMs` is the wall
  * time during which at least one job was running. */
final class StageCounters extends SparkListener {
  private var c = ExecCounters()
  private var activeJobs = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    if (activeJobs == 0) busySince = e.time
    activeJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (activeJobs > 0) {
      activeJobs -= 1
      if (activeJobs == 0) c = c.copy(jobBusyMs = c.jobBusyMs + (e.time - busySince))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c.copy(
        tasks = c.tasks + 1,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = c.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead)
    }
  }

  def snapshot: ExecCounters = synchronized(c)
}

/** Catalyst phase times of every SQL execution that reaches an action
  * (collect, write, command) in a session the listener is registered
  * on, summed per phase name of `QueryPlanningTracker`. */
final class PhaseTimes extends QueryExecutionListener {
  private val ms = new ConcurrentHashMap[String, LongAdder]()

  def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      ms.computeIfAbsent(phase, _ => new LongAdder).add(s.durationMs)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    ms.forEach((k, v) => out += k -> v.sum())
    out.result()
  }
}

/** JVM-wide whole-stage-codegen compilation counters. Compile time is
  * exact (Spark sums it); the class count is the compilation count, and
  * bytes are that count times the mean of Spark's generated-class
  * bytecode-size histogram (a sampling reservoir, so an estimate). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  final case class Snap(compileNs: Long, classes: Long, bytes: Double)

  def snapshot: Snap = {
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    Snap(CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      h.getCount * h.getSnapshot.getMean)
  }
}
