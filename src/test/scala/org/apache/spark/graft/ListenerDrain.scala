package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * test listener's counts are complete before they are read. The bus is
  * private to the `org.apache.spark` package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
