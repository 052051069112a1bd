package org.apache.spark

/** Access to the listener bus, so counts are read only after every event
  * of the measured jobs has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
