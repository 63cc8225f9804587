package org.apache.spark

/** The one `private[spark]` member the benchmark needs: waiting for the
  * listener bus to deliver every queued event before the trace is read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
