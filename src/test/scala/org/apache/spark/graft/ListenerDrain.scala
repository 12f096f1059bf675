package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously, so a spec may count
  * them only after every event posted so far has been delivered. Spark
  * keeps the bus drain package-private; this shim lives in its package
  * to reach it. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
