package org.apache.spark

/** The one Spark-internal call graft's tooling needs: wait until every
  * queued listener event has been delivered, so listener-collected
  * counts are complete before they are read. */
object GraftBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
