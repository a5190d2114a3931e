package org.apache.spark.graftbenchbus

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far.
  * Lives under `org.apache.spark` because the bus is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
