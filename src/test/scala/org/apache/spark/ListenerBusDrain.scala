package org.apache.spark

/** Test access to the listener bus drain, which is `private[spark]`: a
  * listener's counts are complete only once the asynchronous bus is empty. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
