package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Delivery is asynchronous, so a count read before the bus drains can
  * miss the last jobs; `listenerBus` is package-private, hence this
  * accessor's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
