package org.apache.spark

/** The one Spark-internal call the tracer needs: wait until every event
  * posted so far has reached the listeners, so a step's metrics are
  * complete before the next step starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
