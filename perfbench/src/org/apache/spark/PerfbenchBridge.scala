package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every queued event, so job and stage
  * records are complete before spans are reduced to metrics.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
