package org.apache.spark

/** Re-exports the `private[spark]` listener bus's `waitUntilEmpty`, so
  * that [[graft.Metrics]] reads asynchronously-posted events
  * deterministically instead of polling a counter with sleeps. */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
