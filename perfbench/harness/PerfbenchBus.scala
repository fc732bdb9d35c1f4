package org.apache.spark

/** The listener bus's drain is private to Spark; the tracer needs it to
  * read counters only after every event of the timed phase arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
