package org.apache.spark

/** The one call the benchmark needs from inside Spark's package: waiting
  * until the listener bus has delivered every event posted so far, so a
  * traced window's counters are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
