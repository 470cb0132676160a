package org.apache.spark

/** The listener bus is package-private; the benchmark's tracer drains it
  * at query boundaries so every job, stage and trigger event of a query
  * has been delivered before the next query starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
