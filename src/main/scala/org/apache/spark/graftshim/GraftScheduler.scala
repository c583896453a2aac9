package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** `private[spark]` scheduler access: the listener bus is asynchronous,
  * so a caller that registers a bridging SparkListener for a stretch of
  * work must let the bus catch up before reading or deregistering it, or
  * trailing events are lost nondeterministically. The drain polls every
  * queue every 10 ms; a caller whose listener can watch for its own
  * [[GraftScheduler.Marker]] (as `Loader.addBody` does) posts one behind
  * its work and waits for that instead. */
object GraftScheduler {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** An event a caller posts after its work returns: every queue delivers
    * it behind the events posted before it, so a listener that sees it has
    * seen the work's events. Kept out of the event log. */
  final case class Marker(id: String) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  def post(sc: SparkContext, marker: Marker): Unit = sc.listenerBus.post(marker)
}
