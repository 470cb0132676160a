package org.apache.spark

/** The listener bus is package-private; specs that count jobs with a
  * SparkListener drain it so every job event has been delivered before
  * they read the count.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
