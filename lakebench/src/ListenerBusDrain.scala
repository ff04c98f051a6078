package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the span recorder drains
  * it at every span boundary so events land on the span that caused them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
