package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The hooks the benchmark needs that Spark keeps package private. */
object BenchHooks {
  /** Block until every posted listener event has been delivered, so
    * counters read after an action include all of that action's tasks.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution a SQL execution ran (null when Spark set none):
    * the object a QueryExecutionListener is handed for the same action.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
