package org.apache.spark

/** The listener bus's drain is spark-private; the tracer needs it to credit
  * asynchronously delivered events to the span that was open when they were
  * posted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
