package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listeners have seen all of a span's jobs before the span
  * reads its counters. (The bus is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
