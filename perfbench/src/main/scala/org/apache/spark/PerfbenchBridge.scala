package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * listener bus to deliver queued events before counts are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
