package org.apache.spark

/** The listener bus is package-private to Spark; the traced run must
  * wait until every queued event has reached its listeners before it
  * joins them to client spans. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
