package org.apache.spark

/** Listener events arrive asynchronously; a measurement that reads a
  * listener's totals first waits until every posted event is delivered.
  * The bus is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
