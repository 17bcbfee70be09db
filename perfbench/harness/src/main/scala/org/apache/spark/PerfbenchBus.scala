package org.apache.spark

/** Drains the listener bus, which is package-private. The traced run
  * calls it at every phase boundary, so that each listener event is
  * delivered before the phase it belongs to is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
