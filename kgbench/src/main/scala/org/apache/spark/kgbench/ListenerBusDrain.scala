package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counters read before the bus
  * drains would miss the tail of a job. The drain call is Spark-private,
  * hence this one-method shim in Spark's package tree.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
