package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec can read what a `QueryExecutionListener` collected without a
  * sleep. The listener bus is private to Spark. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
