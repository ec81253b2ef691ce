package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener's counters are complete when the caller reads them. The
  * bus is package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
