package org.apache.spark

/** The listener bus is `private[spark]`; the tracer must drain it before
  * reading task counters, or the last ops' tasks would be missing. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
