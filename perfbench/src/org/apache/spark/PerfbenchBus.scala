package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced span can read counters that include the span's own jobs and query
  * executions (listener delivery is asynchronous). The bus is package-private
  * to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
