package org.apache.spark

/** Reaches the `private[spark]` listener bus so callers can wait for it. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
