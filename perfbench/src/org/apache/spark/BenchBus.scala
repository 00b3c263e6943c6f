package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * harness reads complete listener counters. The bus is private to Spark,
  * hence this object's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
