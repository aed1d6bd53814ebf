package org.apache.spark

/** The driver's listener bus is private to Spark; the traced run drains
  * it after each call so listener events land in the call they belong to. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
