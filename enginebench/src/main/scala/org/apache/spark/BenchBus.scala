package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * listener's counters are complete when a measured span closes. The bus
  * is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
