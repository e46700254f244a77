package org.apache.spark

/** Listener events arrive asynchronously. The benchmark reads a pass's
  * trace only after the bus has delivered every event of that pass, and
  * the bus's drain call is visible only inside this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
