package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer needs, re-exported
  * from inside Spark's package (the same route graft's own
  * `GraftShims` takes):
  *  - `drain` blocks until the listener bus has delivered every event
  *    posted so far, so a span closes only after its jobs, stages and
  *    query executions have been counted (no sleep-and-hope);
  *  - `queryExecution` reads the plan an execution-end event carries.
  */
object GraftBenchShims {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
