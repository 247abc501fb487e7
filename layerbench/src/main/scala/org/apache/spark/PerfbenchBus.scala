package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the benchmark
  * drains the bus before reading its listener so counts are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
