package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: blocks until every posted event has
  * reached the listeners, so a listener's counts are final.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
