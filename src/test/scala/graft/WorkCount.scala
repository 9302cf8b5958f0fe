package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Jobs, stages, tasks, shuffle-write bytes and input bytes of one piece
  * of work — counts of work, not time. */
final case class WorkCount(jobs: Int, stages: Int, tasks: Int, shuffled: Long, input: Long)

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
    try { body; org.apache.spark.ListenerDrain(sc) }
    finally sc.removeSparkListener(l)
    WorkCount(jobs.get, stages.get, tasks.get, shuffled.get, input.get)
  }
}
