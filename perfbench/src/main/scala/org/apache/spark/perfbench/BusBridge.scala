package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Exact listener-bus drain: `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`, so it is reached from inside the package, in the
  * style of `org.apache.spark.sql.graft.PlanBridge`. It returns once
  * every event posted before the call has been delivered to every
  * listener — no sleep, no quiet window. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
