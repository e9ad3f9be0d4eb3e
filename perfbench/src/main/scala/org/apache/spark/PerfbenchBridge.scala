package org.apache.spark

/** The listener bus is private[spark]; the trace needs to drain it once
  * before it reads what its listener aggregated.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
