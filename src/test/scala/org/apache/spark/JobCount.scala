package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches, counted by a listener. The block runs
  * under its own job group, so only jobs it (or a thread it starts)
  * submits are counted; the listener bus is drained before the count is
  * read, which needs Spark's package. */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    val group = s"job-count-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    n.get()
  }
}
