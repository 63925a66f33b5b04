package org.apache.spark

/** Lives in Spark's package to reach the listener bus, whose drain call
  * is package-private: listener events arrive asynchronously, and a
  * query's trace is closed only after every event it caused is delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
