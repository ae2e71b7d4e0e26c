package org.apache.spark.sql.stormbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the traced run needs, reached from a package
  * that may see them: draining the listener bus before counters are read,
  * and the query execution carried by an SQL-execution end event (whose
  * planning tracker holds the analysis, optimization and planning times). */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
