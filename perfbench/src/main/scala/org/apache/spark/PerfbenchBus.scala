package org.apache.spark

/** The listener bus is internal to Spark; the benchmark needs one call on it
  * so that a traced stretch ends only after every event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
