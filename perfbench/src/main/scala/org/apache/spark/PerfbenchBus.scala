package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it so
  * that task metrics are read only after every task-end event has arrived.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
