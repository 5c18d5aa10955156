package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so that the
  * per-span task counts it reads include every task that has already ended. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
