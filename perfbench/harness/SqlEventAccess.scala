package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query behind a SQL execution-end event is package-private; the
  * benchmark's [[perfbench.Probe]] pairs it with the execution id its
  * jobs carry. */
object SqlEventAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
