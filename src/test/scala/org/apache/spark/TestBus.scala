package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's job listener has seen every job of the actions it timed. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
