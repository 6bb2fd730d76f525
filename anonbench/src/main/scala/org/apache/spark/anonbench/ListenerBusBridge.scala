package org.apache.spark.anonbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus so the benchmark can wait for
  * every queued event to be delivered before it reads its counters. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
