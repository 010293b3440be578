package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark must read
  * its counters only after every event of the measured work has arrived.
  * The bus is package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
