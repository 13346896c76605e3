package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * listener bus is private to Spark; the traced run drains it at each
  * span boundary so that every job, task and query-execution event of a
  * span is attributed before the next span starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
