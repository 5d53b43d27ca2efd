package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an end event carries, which Spark keeps
  * package-private: it ties a QueryExecutionListener callback to the SQL
  * execution id, and so to the job group that started it. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
