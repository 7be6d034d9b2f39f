package org.apache.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts what a block of driver code makes Spark do: the jobs it launches
  * and the rows its tasks read. Listener events arrive asynchronously, so a
  * count waits for the listener bus to drain; that wait is package-private
  * in Spark, hence this bridge. */
object GraftTestBus {
  def jobsDuring[T](sc: SparkContext)(body: => T): (Int, T) = {
    val jobs = new AtomicInteger(0)
    val out = during(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(body)
    (jobs.get, out)
  }

  /** Rows read by the block's tasks: the task end events'
    * `inputMetrics.recordsRead`, summed (file scans count rows, cached
    * block reads count the blocks' records). */
  def rowsReadDuring[T](sc: SparkContext)(body: => T): (Long, T) = {
    val rows = new AtomicLong(0L)
    val out = during(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rows.addAndGet(m.inputMetrics.recordsRead))
    })(body)
    (rows.get, out)
  }

  private def during[T](sc: SparkContext, listener: SparkListener)(body: => T): T = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      out
    } finally sc.removeSparkListener(listener)
  }
}
