package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read right after an action include that action's events. The wait is
  * `private[spark]`, hence this one-method shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
