package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the traced run needs. */
object JobBenchAccess {
  /** Wait until the listener bus has delivered every event, so the Spark
    * spans are complete before they are written out. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's `QueryExecution` (null if Spark did not attach
    * one): its planning tracker and executed plan. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
