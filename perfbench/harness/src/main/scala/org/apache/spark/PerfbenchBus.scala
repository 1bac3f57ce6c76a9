package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener totals are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
