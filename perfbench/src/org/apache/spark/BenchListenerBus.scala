package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark; without this barrier a reader of
  * listener-collected metrics would need a fixed sleep window. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
