package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
