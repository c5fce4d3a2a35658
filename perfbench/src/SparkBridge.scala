package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object SparkBridge {
  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
