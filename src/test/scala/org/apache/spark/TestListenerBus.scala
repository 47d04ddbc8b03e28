package org.apache.spark

/** The listener bus is private to Spark; specs that count scheduler events
  * drain it through this accessor before they read their counters. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
