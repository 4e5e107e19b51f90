package org.apache.spark

/** Waits until every queued listener event has been delivered, so that
  * counters read at the end of a timed window include all of its jobs. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
