package org.apache.spark.sql.perfbenchhooks

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark members the tracer needs: waiting for the
  * listener bus to empty, and the QueryExecution an execution-end event
  * carries with its action name (the only place where a plan meets the execution id its jobs
  * are tagged with). */
object SparkHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, String)] =
    Option(e.qe).map(_ -> e.executionName.getOrElse(""))
}
