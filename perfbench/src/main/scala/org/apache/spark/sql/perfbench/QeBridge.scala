package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed query of a finished SQL execution (a `private[sql]` field
  * of the event), so a listener can read its plan's SQL metrics and
  * planning phases and tie them to the execution id its jobs carry. */
object QeBridge {
  def qe(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
