package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered. Listener delivery is asynchronous, so span
  * counts read before the bus drains would miss the last jobs of a span.
  * `listenerBus` is package-private, hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
