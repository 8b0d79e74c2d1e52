package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`: block until
  * every posted event has reached the listeners, so a counting listener
  * has seen all jobs of the actions that already returned. */
object GraftTestShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
