package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished execution an end event carries: the same `QueryExecution`
  * a `QueryExecutionListener` receives (final plan with its SQL metrics,
  * planning tracker), joined to its execution id. The field is
  * package-private to Spark SQL.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
