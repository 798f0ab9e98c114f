package org.apache.spark

/** Reaches the listener bus, which is private to Spark: the tracer reads
  * its counters only after every event posted so far has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
