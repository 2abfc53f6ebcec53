package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * test's listener has seen all events of the jobs it counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
