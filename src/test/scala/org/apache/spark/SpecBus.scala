package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; specs that count
  * listener events drain the bus through this before they read. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
