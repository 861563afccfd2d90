package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting until every
  * listener has seen every event posted so far, so per-layer counters
  * are complete before they are read. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
