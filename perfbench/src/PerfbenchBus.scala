package org.apache.spark

/** Waits until every listener queue has delivered what was posted so far
  * (the bus's drain is private to Spark's package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
