package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private. */
object BenchShims {
  /** Blocks until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
