package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts. Job events reach
  * listeners asynchronously, so the count is read only after the listener
  * bus is drained; draining it has no public API, hence this package. */
object JobCounter {
  def apply(sc: SparkContext)(body: => Any): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
