package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * drains it before reading its listener's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
