package org.apache.spark

/** Waits until every event posted to the context's listener bus has been
  * delivered, so the trace collectors have seen the whole timed region
  * before they are read. Lives in this package because the bus is
  * `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
