package org.apache.spark

/** Reaches the package-private listener bus so the traced run can wait
  * until every queued event has been delivered, instead of polling. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
