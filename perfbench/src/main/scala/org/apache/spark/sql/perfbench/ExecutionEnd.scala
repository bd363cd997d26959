package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries (`private[sql]`; the
  * same object Spark hands to QueryExecutionListeners, which are not told
  * the execution id). Null for executions of another process. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
