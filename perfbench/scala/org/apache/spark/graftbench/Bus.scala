package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every queued event. `listenerBus` is
  * `private[spark]`, hence this package; nothing in Spark is modified. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
