package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
