package org.apache.spark

/** Listener events are delivered asynchronously; a test that counts them
  * drains the bus first. The bus is `private[spark]`, hence this package. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
