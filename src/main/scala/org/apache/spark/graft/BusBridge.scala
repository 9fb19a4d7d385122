package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge for draining the listener bus (`LiveListenerBus.waitUntilEmpty`
  * is private[spark]) — needed by listeners that read their totals right
  * after an action: it returns once every event posted before the call
  * has been delivered to every listener, with no sleep or quiet-window
  * guess. Throws `TimeoutException` if the bus does not empty within
  * Spark's default wait. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
