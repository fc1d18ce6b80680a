package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read at a pass boundary include everything the pass caused. The bus is
  * scoped to Spark's own packages, hence this one-line bridge.
  */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
