package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener totals are complete when they are read. The bus is
  * package-private to Spark; this one-line bridge is the only reason the
  * benchmark has a file in this package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
