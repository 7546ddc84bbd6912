package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads, both
  * package-private to Spark (hence this file's package):
  *  - the listener bus, to deliver every posted event before the tracer
  *    detaches between a traced and an untraced op;
  *  - the query an execution-end event carries, the one place where a
  *    `QueryExecution` and its SQL execution id meet.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def query(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(end.qe)
}
