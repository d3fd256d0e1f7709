package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the listener bus and to the plan of a finished SQL execution,
  * which Spark keeps package-private.
  */
object Bus {
  /** Blocks until every event posted so far has reached every listener,
    * so counters read afterwards are complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Total time of the execution's planning phases (analysis,
    * optimization, planning), in ms; 0 when the event carries no plan.
    */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    if (e.qe == null) 0L else e.qe.tracker.phases.values.map(_.durationMs).sum
}
