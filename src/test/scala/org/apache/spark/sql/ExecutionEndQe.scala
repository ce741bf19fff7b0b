package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an ended SQL execution ran (null when the event carries
  * none), read off the `private[sql]` field Spark's own listeners use.
  */
object ExecutionEndQe {
  def apply(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
