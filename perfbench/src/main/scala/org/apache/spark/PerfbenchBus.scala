package org.apache.spark

/** The listener bus's drain is package-private to Spark; the tracer
  * needs it to charge every event to the span it belongs to. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
