package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs one
  * call on it to read complete per-span counters. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
