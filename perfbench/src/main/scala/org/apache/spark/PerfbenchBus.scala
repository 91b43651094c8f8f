package org.apache.spark

/** Spark keeps its listener bus's drain private to the `org.apache.spark`
  * package; the benchmark needs it so counters read after an action
  * include every event that action posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
