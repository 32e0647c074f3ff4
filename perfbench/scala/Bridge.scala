package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark's one `private[spark]` need: wait until every queued
  * listener event is delivered, so counters read at a span boundary are
  * complete. Listener events travel through an async bus.
  */
object Bridge {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println("[perfbench] listener bus drain timed out; counters may lag")
    }
}
