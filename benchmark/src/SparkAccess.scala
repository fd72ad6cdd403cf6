package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the trace needs: the listener bus
  * (to know every event of a finished iteration was delivered) and the
  * QueryExecution an execution-end event carries (the object a
  * QueryExecutionListener receives, here paired with its execution id).
  */
object SparkAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
