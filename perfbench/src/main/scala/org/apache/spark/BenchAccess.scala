package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener has processed the events posted so far, so per-operation
  * counts are complete when they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
