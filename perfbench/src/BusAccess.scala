package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered
  * every queued event, so a traced pass is complete before its
  * listeners are read or removed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
