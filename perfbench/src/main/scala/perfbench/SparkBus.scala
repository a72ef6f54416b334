package org.apache.spark

/** Waits for Spark's asynchronous listener bus to deliver every queued
  * event, so a traced run's listeners have seen all jobs before they are
  * read. The bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
