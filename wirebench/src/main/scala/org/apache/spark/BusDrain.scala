package org.apache.spark

/** The listener bus is package-private; the trace recorders wait on it so
  * that every event posted before a measurement ends is counted.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
