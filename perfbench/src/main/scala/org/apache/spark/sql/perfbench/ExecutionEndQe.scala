package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries: the same object a
  * QueryExecutionListener receives, which is how the benchmark joins the
  * listener's plan facts to the SQL execution id. The field is internal to
  * Spark SQL, hence this accessor's package.
  */
object ExecutionEndQe {
  def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
