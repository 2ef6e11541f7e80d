package org.apache.spark

/** Waits until every posted listener event has been delivered, so span
  * totals read after an action include all of its tasks. The listener bus
  * is Spark-internal; this object lives in Spark's package to reach it. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
