package org.apache.spark

/** The listener bus is asynchronous; tracing waits for it to empty after
  * each op so the op's events are complete before the next op starts. The
  * wait is package-private in Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
