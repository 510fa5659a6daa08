package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two non-public Spark hooks the benchmark's tracer needs. */
object PerfbenchAccess {
  /** The listener bus is asynchronous: drain it before reading counts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution a finished SQL execution ran; the same object a
    * QueryExecutionListener receives, here paired with its execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
