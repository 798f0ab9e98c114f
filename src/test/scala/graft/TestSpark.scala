package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test", cpus = 4)
  val sfDir = "/root/testdata/sf0.001"
}
