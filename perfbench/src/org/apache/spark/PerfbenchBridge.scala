package org.apache.spark

/** Re-exports the one `private[spark]` call the benchmark needs: blocking
  * until every listener has seen every posted event, so the events of one
  * timed call are attributed before the next call starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
