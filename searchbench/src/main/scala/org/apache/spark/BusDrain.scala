package org.apache.spark

/** Waits until every queued listener event has been delivered, so that
  * counters read from a listener cover all jobs that already ended. The
  * listener bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
