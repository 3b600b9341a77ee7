package org.apache.spark

/** Waits until every posted listener event has been delivered: the bus is
  * asynchronous, so code that reads what a listener saw of an action (the
  * bench's per-rep counters, a spec's job list) drains it first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
