package org.apache.spark

/** Test access to the `private[spark]` listener bus: specs that count
  * jobs drain it so every event of the measured call has arrived. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
