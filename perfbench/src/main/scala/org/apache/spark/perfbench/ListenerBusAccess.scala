package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the traced run drains the
  * bus at span boundaries so that every event lands in the span that
  * caused it. The bus is `private[spark]`, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
