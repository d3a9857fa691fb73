package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * traced run reads complete job records at exit. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
