package org.apache.spark

/** Lets a spec wait until every listener event posted so far has been
  * delivered (the bus is asynchronous and its drain is package-private). */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
