package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every event
  * posted so far, so per-group counters are complete when they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
