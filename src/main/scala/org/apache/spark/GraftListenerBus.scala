package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every posted
  * event, so a listener has seen every job before its counts are read. The bus
  * is package-private, hence this file's package.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
