package org.apache.spark

/** Lets the harness wait until every queued listener event has been
  * delivered, so counters read at a span boundary include all of the
  * span's tasks. The listener bus is Spark-private, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
