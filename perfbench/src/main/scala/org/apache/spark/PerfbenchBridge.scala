package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run reads its listener only after every queued event is delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
