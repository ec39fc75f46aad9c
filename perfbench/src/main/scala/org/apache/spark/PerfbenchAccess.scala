package org.apache.spark

/** The one Spark-internal call the tracer needs: block until the listener
  * bus has delivered every queued event, so a traced window's records are
  * complete before they are summarised.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
