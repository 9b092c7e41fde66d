package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so
  * that per-op counters include every event the op posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
