package org.apache.spark

/** Waits until every listener event posted so far has been delivered
  * (the bus is package-private, hence this package). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
