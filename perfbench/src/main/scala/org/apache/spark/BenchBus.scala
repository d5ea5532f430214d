package org.apache.spark

/** Waits until every event posted so far has reached the listeners
  * (the listener bus is private to Spark's own package).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
