package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the trace is read only after every
  * event posted so far has been delivered. The wait lives in Spark's package
  * because the listener bus is package-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
