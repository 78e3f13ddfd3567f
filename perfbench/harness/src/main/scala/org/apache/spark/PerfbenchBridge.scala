package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark's traced runs need to
  * wait until every posted event reached their listeners before reading
  * the counts. Lives in this package only to cross that boundary. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
