package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so
  * counters read at a phase boundary include that phase's events.
  * The listener bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
