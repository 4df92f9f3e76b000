package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` starts. Jobs are attributed by job
  * group: threads `body` starts inherit the group, and jobs that other
  * code runs on the shared context are not counted. The listener bus
  * is drained ([[ListenerBusDrain]]) before the count is read. */
object JobCount {
  def apply(sc: SparkContext, group: String)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
