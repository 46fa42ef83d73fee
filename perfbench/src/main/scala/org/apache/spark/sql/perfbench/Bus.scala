package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark internals the traced run reads: listener events arrive
  * asynchronously, so the bus is drained before the trace is read, and
  * a finished SQL execution carries its QueryExecution, whose planning
  * tracker times the analysis, optimization and planning phases.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble).getOrElse(0.0)
}
