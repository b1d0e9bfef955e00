package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for it
  * to drain before it reads what its own listener recorded.
  */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
