package org.apache.spark

/** The one Spark-internal the benchmark needs: wait until the listener
  * bus has delivered every task-end event before spans are summarized. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
