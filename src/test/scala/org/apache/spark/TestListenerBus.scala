package org.apache.spark

/** The listener bus drain is package-private to Spark: specs that count
  * listener events call this instead of sleeping for the async delivery. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
