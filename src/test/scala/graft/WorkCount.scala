package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Jobs, stages, tasks, shuffle-write bytes, input bytes and broadcasts
  * created of one piece of work — counts of work, not time. Every stage
  * a job submits broadcasts its task binary, so `broadcasts` counts
  * those too. */
final case class WorkCount(jobs: Int, stages: Int, tasks: Int, shuffled: Long, input: Long,
                           broadcasts: Int)

object WorkCount {
  /** Count the work `body` runs, read after draining the listener bus. */
  def of(sc: SparkContext)(body: => Unit): WorkCount = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffled = new AtomicLong
    val input = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) {
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        }
      }
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    // broadcast ids come from one counter: the ids of two throwaway
    // broadcasts around the body bound the ones it created
    val first = sc.broadcast(0)
    try {
      val last =
        try { body; org.apache.spark.ListenerDrain(sc); sc.broadcast(0) }
        finally sc.removeSparkListener(l)
      last.destroy()
      WorkCount(jobs.get, stages.get, tasks.get, shuffled.get, input.get,
        (last.id - first.id - 1).toInt)
    } finally first.destroy()
  }
}
