package org.apache.spark

/** The benchmark's one use of a Spark-private API: block until the
  * listener bus has delivered every event posted so far. Listener
  * counters read after `drain` include every stage and task of the jobs
  * that finished before it was called. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
