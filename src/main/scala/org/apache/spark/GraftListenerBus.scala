package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * meter read after an action sees all of its stages (the bus is
  * package-private). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
