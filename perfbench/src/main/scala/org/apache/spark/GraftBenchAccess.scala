package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting for the listener
  * bus to empty, so per-request counts are complete before they are read.
  */
object GraftBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
