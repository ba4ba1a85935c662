package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. Counters read straight
  * after an action can miss its last task and job events; draining the bus
  * first makes them complete. `listenerBus` is `private[spark]`, hence this
  * package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
