package org.apache.spark

/** The listener bus is asynchronous; the report must wait for it to drain
  * before reading the listener's totals (the drain call is spark-private). */
object KgBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
