package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * tracer's counters are complete before a span is read. The listener bus
  * is package-private to Spark, hence this one-method shim. */
object ListenerSync {
  def await(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
