package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger

/** Test access to the listener bus: blocks until every posted event has
  * reached the listeners, so a listener's counts are final.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    apply(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      apply(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
