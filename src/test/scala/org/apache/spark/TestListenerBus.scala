package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every posted
  * event, so a test's listener has seen all jobs before it is read. The bus
  * is package-private, hence this file's package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
