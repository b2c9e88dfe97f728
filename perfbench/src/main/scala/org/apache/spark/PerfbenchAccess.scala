package org.apache.spark

/** The one Spark-internal the harness needs: listener events are delivered
  * asynchronously, so a span's counts are only complete once every event
  * posted during it has reached the collector.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
