package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: blocks until every
  * queued listener event has been delivered. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
