package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read at a span boundary cover all work done before it. The
  * bus is private to Spark, hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
