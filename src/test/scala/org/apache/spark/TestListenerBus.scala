package org.apache.spark

/** The listener bus is private to Spark; tests drain it so that every event
  * of an action that has already returned has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
