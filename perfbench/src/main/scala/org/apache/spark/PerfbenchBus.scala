package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so that
  * task counters read after an action include that action's tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
