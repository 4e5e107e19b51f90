package org.apache.spark

/** Test-only bridge to the private[spark] listener bus, so a spec can
  * wait until every posted event reached its listeners before it reads
  * what they counted. */
object GraftListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
