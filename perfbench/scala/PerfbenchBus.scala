package org.apache.spark

/** The listener bus drain is package-private; the traced run needs it
  * so every job's events are counted before the counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
