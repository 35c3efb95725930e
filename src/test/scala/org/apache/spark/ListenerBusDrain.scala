package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * spec's listener has seen all jobs and query executions of the code it
  * just ran. The listener bus is package-private to Spark, hence the
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
