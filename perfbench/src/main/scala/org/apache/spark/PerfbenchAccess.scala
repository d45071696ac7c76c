package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced batch run reads complete per-family counts. The listener bus is
  * package-private to Spark, hence this package.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
