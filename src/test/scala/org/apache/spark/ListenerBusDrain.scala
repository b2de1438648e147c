package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's SparkListener reads complete counts (the bus is Spark-private). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
