package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced run must
  * drain the asynchronous event bus before it reads its listener's
  * totals, so this one call lives under `org.apache.spark`. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
