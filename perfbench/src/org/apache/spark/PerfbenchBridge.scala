package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can wait
  * for every posted event before it reads its listener's counters. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
