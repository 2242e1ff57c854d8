package org.apache.spark

/** The listener bus is package-private; the benchmark needs to wait for it
  * before it reads the counters its listener collected. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
