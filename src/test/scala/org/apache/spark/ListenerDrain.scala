package org.apache.spark

/** Test-only access to one Spark-private call: block until the listener
  * bus has delivered every event posted so far, so listener counters
  * read afterwards include every job and stage that already finished. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
