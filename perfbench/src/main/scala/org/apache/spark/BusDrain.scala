package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read after an op include all of its tasks (the bus is asynchronous).
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
