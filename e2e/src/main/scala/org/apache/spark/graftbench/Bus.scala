package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The traced run waits
  * for the bus to drain before it reads a pass's counters; the hook lives
  * in Spark's package because `listenerBus` is `private[spark]`.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
