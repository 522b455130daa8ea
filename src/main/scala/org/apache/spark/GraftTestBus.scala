package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** The listener bus is asynchronous and draining it is only reachable
  * from Spark's own package. `graft.obs.ExecListener` and the specs
  * that count jobs or capture plans drain it before reading what their
  * listeners saw; StreamingSpec counts the streaming listener buses that
  * repeated streaming runs leave on the context.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def streamingListenerBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.isInstanceOf[StreamingQueryListenerBus])
}
