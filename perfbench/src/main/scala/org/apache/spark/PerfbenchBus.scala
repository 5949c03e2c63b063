package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so per-span task counters are complete before they are read. The bus is
  * package-private to Spark, hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
