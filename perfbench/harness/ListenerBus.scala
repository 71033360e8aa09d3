package org.apache.spark

/** Access to Spark's private listener bus, so the benchmark can wait
  * until every queued listener event has been delivered.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
