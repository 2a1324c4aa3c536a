package org.apache.spark

/** Blocks until the listener bus has delivered every posted event. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
