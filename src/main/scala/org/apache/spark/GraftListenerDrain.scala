package org.apache.spark

/** The listener bus delivers events asynchronously and its drain is
  * private to Spark: job counters (`graft.Probe profile`, the specs'
  * `jobsOf`) wait on it so every event posted before the call has been
  * delivered when they read their counters.
  */
object GraftListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
