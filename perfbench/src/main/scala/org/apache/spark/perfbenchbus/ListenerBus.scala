package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so
  * counters read after a timed phase are complete. The wait is
  * `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
