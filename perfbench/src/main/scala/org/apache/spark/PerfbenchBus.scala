package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark needs one call on
  * it: wait until every posted event has reached every listener, so the
  * per-operation layer records are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
