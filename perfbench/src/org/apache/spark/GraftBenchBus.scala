package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete counters (the bus itself is spark-private). */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
