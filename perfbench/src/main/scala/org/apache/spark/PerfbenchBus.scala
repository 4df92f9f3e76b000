package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * span counters read after a pass are complete. Lives in this package
  * because the bus is only visible to Spark's own code. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
