package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private reads the benchmark's tracer needs. */
object PerfbenchShim {
  /** The listener bus delivers events asynchronously; per-layer figures
    * are read only after every event of the measured region arrived. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's QueryExecution (null if not local). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
