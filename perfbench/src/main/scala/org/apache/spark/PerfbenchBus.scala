package org.apache.spark

/** One door to the `private[spark]` listener bus: the traced run must see
  * every queued event before it aggregates counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
