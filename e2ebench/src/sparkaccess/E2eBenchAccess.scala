package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark hooks the trace needs: draining the
  * listener bus before spans are joined, and the query execution that
  * an SQL-execution end event carries (its action name, duration and
  * executed plan with SQL metrics). */
object E2eBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def ended(e: SparkListenerSQLExecutionEnd): Option[(String, Long, QueryExecution)] =
    Option(e.qe).map(qe => (e.executionName.getOrElse("sql"), e.duration, qe))
}
