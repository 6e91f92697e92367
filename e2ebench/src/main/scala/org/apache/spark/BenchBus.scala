package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * listener's counts are complete when an action returns (the listener
  * bus is asynchronous and its drain call is package-private). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
