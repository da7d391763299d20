package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before
  * reading what its listeners recorded.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
