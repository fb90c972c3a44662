package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The package-private Spark members the benchmark's tracing reads. */
object PerfbenchAccess {
  /** Block until the listener bus has delivered every queued event, so a
    * traced phase's ledger is complete before it is read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's QueryExecution (null when the event came
    * from outside this JVM). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
