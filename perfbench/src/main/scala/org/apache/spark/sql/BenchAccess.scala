package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the harness reads, hence this file's package.
 *
 *  The listener bus delivers events asynchronously; the traced run
 *  drains it at each span boundary so the listener's counts at that
 *  instant cover exactly the work the span did. A finished SQL
 *  execution carries its query execution, whose final plan names the
 *  path a write went to. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
