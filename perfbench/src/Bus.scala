package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered before it reads the meter (the bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
