package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package-private Spark state the benchmark's tracer reads: the listener
  * bus (drained before reading what listeners collected) and the query
  * execution an execution-end event carries (its executed plan and
  * metrics, keyed by the event's own execution id). */
object PerfbenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
