package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced run must drain it before it
  * reads the counters its listener aggregated, or late task-end events of the
  * last job would be missing. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
