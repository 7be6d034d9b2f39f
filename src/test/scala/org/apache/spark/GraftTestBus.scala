package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code launches. Job-start events
  * reach listeners asynchronously, so the count waits for the listener bus
  * to drain; that wait is package-private in Spark, hence this bridge. */
object GraftTestBus {
  def jobsDuring[T](sc: SparkContext)(body: => T): (Int, T) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }
}
