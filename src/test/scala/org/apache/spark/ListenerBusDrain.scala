package org.apache.spark

/** Test access to the driver's listener bus, which is private to Spark:
  * blocks until every event posted so far has reached every listener,
  * so a listener's counts are complete once it returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
