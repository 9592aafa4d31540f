package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished query of a SQL execution-end event, whose planning
  * tracker holds the analysis, optimization and planning phase times.
  * Spark exposes the field only inside its `sql` package. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
