package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries is
  * `private[sql]`; the traced run reads its planning phases
  * (analysis, optimization, planning) from it. */
object BenchSql {
  /** (execution id, planning milliseconds), when the event carries its
    * query execution. */
  def planning(e: SparkListenerSQLExecutionEnd): Option[(Long, Long)] =
    Option(e.qe).map(qe => e.executionId -> qe.tracker.phases.values.map(_.durationMs).sum)
}
