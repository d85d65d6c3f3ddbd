package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * span's task metrics are complete before they are read. The listener bus
  * is private to Spark; this object lives in Spark's package to reach it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
