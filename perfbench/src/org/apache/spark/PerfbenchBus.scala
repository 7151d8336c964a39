package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark run drains it
  * after each operation so every job, stage, task and query-execution event
  * of that operation has been delivered before its counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
