package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run's job, task and query events are all counted before the
  * per-layer metrics are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
