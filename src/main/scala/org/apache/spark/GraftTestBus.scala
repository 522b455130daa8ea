package org.apache.spark

/** The listener bus is asynchronous and draining it is only reachable
  * from Spark's own package. `graft.obs.ExecListener` and the specs
  * that count jobs or capture plans drain it before reading what their
  * listeners saw.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
