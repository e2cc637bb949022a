package org.apache.spark

/** Waits until every posted listener event has been delivered, so figures a
  * listener gathered are complete before they are read. The listener bus is
  * package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
