package org.apache.spark

/** Access to the package-private listener bus: a traced span waits for
  * every event posted during it to be delivered before reading its
  * counters. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
