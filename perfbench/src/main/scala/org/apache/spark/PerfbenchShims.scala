package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps
  * package-private: the tracer must read its counters only after every
  * posted event has been delivered. */
object PerfbenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
