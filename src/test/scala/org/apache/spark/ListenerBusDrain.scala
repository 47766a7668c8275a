package org.apache.spark

/** Specs that count listener events read them only after every event has
  * been delivered; the live bus is package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
