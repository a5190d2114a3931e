package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object TestListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
