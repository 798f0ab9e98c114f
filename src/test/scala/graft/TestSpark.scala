package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test", cpus = 4)
  val sfDir = "/root/testdata/sf0.001"

  /** Ids of the RDDs persisted right now. */
  def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** How many RDDs are persisted now that were not in `before`. RDD ids are
    * never reused, so an RDD an earlier suite left behind, freed by the
    * ContextCleaner mid-test, cannot move this count the way it moves a
    * bare size difference.
    */
  def persistedSince(before: Set[Int]): Int = (persisted -- before).size

  /** `f`'s result and the Spark jobs started while it ran, counted with a
    * job listener. The listener bus is drained before and after, so events
    * of earlier jobs are not counted and every one of `f`'s is. Suites run
    * one at a time in the forked test JVM, so every job started meanwhile
    * is `f`'s.
    */
  def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.TestBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
