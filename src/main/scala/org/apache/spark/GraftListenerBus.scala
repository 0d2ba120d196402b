package org.apache.spark

/** The listener bus drain is package-private to Spark: code that counts
  * listener events (graft.Trace, the specs) calls this instead of sleeping
  * for the async delivery. Streaming query progress travels on the same
  * bus, so a drain also delivers every pending `QueryProgressEvent`. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
