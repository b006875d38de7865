package org.apache.spark

/** Drains the listener bus so every job/stage event of the work done so
  * far has reached the benchmark's listener (the bus is private to
  * Spark, hence this package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
