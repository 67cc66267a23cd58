package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark handles the benchmark's listeners need. */
object SparkInternals {
  /** The query execution behind an SQL execution-end event: ties a
    * QueryExecutionListener callback to the jobs of that execution. */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)

  /** Block until every listener event posted so far was delivered, so a
    * phase's last task and progress events are counted in that phase. */
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
