package org.apache.spark

/** Waits until every posted listener event has been delivered: the bus is
  * asynchronous, so a spec that asserts on the jobs an action submitted
  * drains it before reading what its listener saw.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
