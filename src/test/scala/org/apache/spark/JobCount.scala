package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a call submits, counted by a listener: a job counts
  * when it carries this thread's marker property (Spark hands local
  * properties on to the jobs a query submits from its helper threads).
  * Lives in `org.apache.spark` to drain the listener bus before the count
  * is read.
  */
object JobCount {
  private val Key = "graft.test.jobCount"

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val marker = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == marker))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, marker)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
