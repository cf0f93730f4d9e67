package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Jobs a block submits, counted by a SparkListener. Listener events
  * arrive asynchronously, so the count waits until the bus has delivered
  * every event posted so far; that wait is package-private to Spark. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
