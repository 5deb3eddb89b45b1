package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The listener bus and an ended execution's plan are `private[spark]` and
  * `private[sql]`; this shim lives here solely for those qualifiers.
  */
object ListenerBusBridge {
  /** Wait until every queue has delivered what was posted so far
    * (`TimeoutException` after `timeoutMs`). */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Action name and plan of a named execution (what a
    * `QueryExecutionListener` is shown); None for unnamed ones. */
  def namedPlan(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    for (name <- e.executionName; qe <- Option(e.qe)) yield (name, qe)
}
