package org.apache.spark

/** Waits for Spark's asynchronous listener bus to deliver every posted
  * event, so per-span counters are complete before they are read. The bus
  * is package-private, hence this file's package.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
