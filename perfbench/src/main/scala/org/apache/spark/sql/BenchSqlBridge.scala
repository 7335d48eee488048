package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `QueryExecution` an SQL-execution-end event carries is
  * `private[sql]`; the tracer reads Catalyst's phase times and the
  * executed plan from it, which ties them to the execution id. */
object BenchSqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
