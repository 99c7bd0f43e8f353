package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run's job, task and query records are complete before they
  * are aggregated. The listener bus is private to Spark's package. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
