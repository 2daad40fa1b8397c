package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark reads from outside the engine:
  * the query execution attached to an SQL-execution-end event (for its
  * Catalyst phase tracker), and a drain of the listener bus so counters
  * are complete before a pass is closed. */
object PerfbenchInternals {

  /** Analysis + optimization + planning phases of the execution, as
    * (phase, startMs, endMs); empty when the event carries no plan. */
  def phases(e: SparkListenerSQLExecutionEnd): Seq[(String, Long, Long)] =
    Option(e.qe).toSeq.flatMap(_.tracker.phases.toSeq.map {
      case (name, p) => (name, p.startTimeMs, p.endTimeMs)
    })

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
