package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reaches the query execution an SQL execution's end event carries, which
  * is private to Spark SQL. A `QueryExecutionListener` gets the same object
  * but no way to tell which SQL execution (and so which jobs) it belongs to.
  */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
