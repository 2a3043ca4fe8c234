package org.apache.spark

/** The listener bus drain is package-private to Spark; the tracer needs
  * it so that every event a span caused is processed before the span
  * closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
