package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this one-call bridge lets the
  * benchmark wait until every listener has seen every event so far. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
