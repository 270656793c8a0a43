package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
