package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; block until every event posted
  * so far has reached the registered listeners. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
