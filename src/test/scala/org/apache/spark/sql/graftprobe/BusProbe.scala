package org.apache.spark.sql.graftprobe

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Test-only access to the listener bus (private[spark]): drain it so
  * listener-side counts are final, and post events a live application
  * would only see at its end. */
object BusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
