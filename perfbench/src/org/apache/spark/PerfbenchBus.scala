package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * listener counters are complete when they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
