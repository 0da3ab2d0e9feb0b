package org.apache.spark

/** The listener bus's drain is package-private; counters read after a
  * finished job or stream must wait for its events to be delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
