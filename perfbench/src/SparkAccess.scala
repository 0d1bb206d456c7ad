package org.apache.spark

/** The one Spark-internal call the traced run needs: block until every
  * posted listener event has been delivered, so attribution sees all of
  * them. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
