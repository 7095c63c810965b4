package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** A query's end event carries its QueryExecution only on a field private to
  * Spark SQL; the tracer reads it to tie a query to its execution id, which
  * is what the query's jobs carry.
  */
object SegbenchInternals {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
