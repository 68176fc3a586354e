package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * tracer needs it to read its counters only after every event of the
  * run has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
