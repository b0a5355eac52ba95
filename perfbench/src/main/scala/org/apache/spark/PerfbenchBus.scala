package org.apache.spark

/** The listener bus is package-private; the benchmark needs to wait until
  * every posted event has reached its listeners before reading counts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
