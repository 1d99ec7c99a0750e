package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event reports on. Spark
  * keeps the field `private[sql]`; the benchmark uses it only to match
  * a `QueryExecutionListener` callback to the SQL execution (and so the
  * job group) it belongs to. */
object ExecutionEnd {
  def qe(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
