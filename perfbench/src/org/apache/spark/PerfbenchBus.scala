package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so the
  * benchmark's probes read complete counters (the bus is Spark-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
