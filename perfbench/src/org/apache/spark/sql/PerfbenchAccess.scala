package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private reads the benchmark needs. */
object PerfbenchAccess {
  /** Block until every listener queue has delivered its events, so a
    * pass's task metrics are all counted before the pass is summed. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an ended SQL execution ran, when Spark kept it. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
