package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark reads complete task counters at the end of a span. The bus
  * handle is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
