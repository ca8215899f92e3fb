package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until every queued
  * listener event has been delivered, so span attribution is complete
  * before the trace is written. */
object MedbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
