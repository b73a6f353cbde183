package org.apache.spark

/** The listener bus is private to Spark; this is the one call the
  * benchmark needs from it: wait until queued events are delivered,
  * so counts read after an op include that op's tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
