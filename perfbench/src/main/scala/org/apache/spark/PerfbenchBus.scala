package org.apache.spark

/** The benchmark reads listener counters only after every event of a
  * traced section has been delivered; the live bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
