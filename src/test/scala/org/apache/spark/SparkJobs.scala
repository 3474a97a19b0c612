package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts: a listener keeps
  * the jobs tagged with this call's local property (inherited by the
  * threads a query runs its sub-jobs on), and the listener bus is
  * drained before the count is read.
  */
object SparkJobs {
  private val Key = "graft.test.jobProbe"

  def count[A](sc: SparkContext)(body: => A): (A, Int) = {
    val token = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == token) n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, token)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
