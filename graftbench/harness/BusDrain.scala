package org.apache.spark

/** The listener bus is asynchronous; draining it is only reachable from
  * Spark's own package. The traced run drains before reading per-op
  * listener totals.
  */
object GraftbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
