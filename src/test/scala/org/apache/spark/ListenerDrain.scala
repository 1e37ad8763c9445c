package org.apache.spark

/** Access to the listener bus, which is private to Spark. */
object ListenerDrain {
  /** Block until every posted listener event has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
