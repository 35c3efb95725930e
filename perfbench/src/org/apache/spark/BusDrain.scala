package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * execution metrics of finished ops are complete before they are read.
  * The listener bus is package-private to Spark, hence the package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
