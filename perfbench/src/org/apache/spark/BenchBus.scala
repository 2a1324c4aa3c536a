package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * bench listener's counters are complete when a run returns.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
