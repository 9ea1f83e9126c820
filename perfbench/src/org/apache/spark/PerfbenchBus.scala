package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * pass's per-layer sums are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
