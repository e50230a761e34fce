package org.apache.spark

/** Test access to the listener bus, which is private to Spark: waiting for
  * it to drain makes every event posted so far visible to test listeners.
  */
object ListenerBusTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
