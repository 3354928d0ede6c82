package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener events arrive asynchronously; a trace is read only after
  * every event posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
