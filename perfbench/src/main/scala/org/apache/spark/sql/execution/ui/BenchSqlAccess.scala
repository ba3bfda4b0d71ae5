package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** The query execution an end event carries (`private[sql]`, hence the
  * package): the same object a QueryExecutionListener receives, but
  * tied to the execution id that the event's jobs and timings use.
  */
object BenchSqlAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
