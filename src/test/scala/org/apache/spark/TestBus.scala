package org.apache.spark

/** Reaches the listener bus, which is private to Spark, so a test can wait
  * until every event posted so far has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
