package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * tracer needs it to read counters only after every event of a span
  * has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
