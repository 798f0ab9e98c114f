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
}
