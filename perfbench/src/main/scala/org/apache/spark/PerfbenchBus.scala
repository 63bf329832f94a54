package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced run
  * drains it at the end of each operation so every task and query event is
  * attributed to the operation that caused it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
