package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Placed under org.apache.spark
  * for the listener bus's `private[spark]` drain: job-start events are
  * delivered asynchronously, so the count is read only once every event
  * posted before it has reached the listener. Jobs are matched by a
  * job group unique to the call, so suites sharing the context in
  * parallel are not counted.
  */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = "job-count-" + java.util.UUID.randomUUID()
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
