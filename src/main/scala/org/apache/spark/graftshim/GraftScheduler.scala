package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** `private[spark]` scheduler access: the listener bus is asynchronous,
  * so a caller that reads what a SparkListener (or the status store) has
  * seen of a stretch of work must let the bus catch up first, or trailing
  * events are missed nondeterministically. The drain polls every queue
  * every 10 ms, and times out if a listener holds its queue. */
object GraftScheduler {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
