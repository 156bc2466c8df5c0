package org.apache.spark

/** The listener bus drain is private to Spark; the traced run needs it so
  * every event of an operation is counted before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
