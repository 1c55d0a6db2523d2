package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * queued listener event has been delivered, so per-operation counts
  * are complete before they are read. */
object GraftbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
