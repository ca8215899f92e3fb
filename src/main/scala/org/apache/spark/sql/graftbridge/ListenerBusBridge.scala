package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus: an action returns
  * once its job-end events are queued, not delivered, so a tool that
  * reports what its listener saw waits here until every queued event has
  * reached it. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
