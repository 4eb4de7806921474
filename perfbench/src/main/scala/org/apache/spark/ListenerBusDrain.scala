package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a tracer's record is complete before it is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
