package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries (`private[sql]`,
  * hence this package), so a listener can key it by execution id, which is
  * what each job's `spark.sql.execution.id` property names. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
