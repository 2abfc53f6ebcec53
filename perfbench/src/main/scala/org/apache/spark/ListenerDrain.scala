package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced run's listeners have seen all events before they are read. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
