package org.apache.spark

/** The one Spark-internal call the harness needs: block until every
  * queued listener event is delivered, so span counters are complete
  * when they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
