package org.apache.spark

/** The listener bus is package-private; the harness waits on it between
  * traced polls so every event of a poll is recorded before the next one
  * starts. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
