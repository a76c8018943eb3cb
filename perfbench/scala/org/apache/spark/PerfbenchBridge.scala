package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: block until every
  * queued listener event has been delivered, so per-span counters are
  * complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
