package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal handles the benchmark's tracer needs. */
object BenchBridge {
  /** Wait until every posted listener event has been delivered, so the
    * per-span metrics are complete before they are summed. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an end-of-execution event reports on (it carries
    * the `QueryPlanningTracker` with the planning phases). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
