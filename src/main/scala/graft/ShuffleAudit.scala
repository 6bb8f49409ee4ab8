package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Shuffle-byte accounting shared by [[Bench]] (per-query reporting)
  * and `ShuffleBudgetSpec` (the regression GATE over the top
  * shufflers): one definition of "bytes that crossed an exchange", so
  * the gate can never drift from the number the bench reports.
  *
  * Mechanism: a `QueryExecutionListener` captures every executed plan
  * an action triggers; summing the plans' `shuffleBytesWritten`
  * SQLMetrics gives the exchange bill — the quantity that becomes the
  * network cost at 100 TB. Listener delivery is async, so collection
  * ends with a bounded quiescence poll.
  */
object ShuffleAudit {

  /** Sum `shuffleBytesWritten` over a plan tree. AQE wraps the real
    * plan in `AdaptiveSparkPlanExec`, a leaf from the TreeNode
    * traversal's point of view — a plain collect would visit one node
    * and silently report 0, so adaptive nodes are unwrapped
    * explicitly. */
  def walkPlan(p: SparkPlan): Long = {
    val self = p.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other                                                     => other.children
    }
    self + kids.map(walkPlan).sum
  }

  def shuffleBytesOf(qes: Seq[QueryExecution]): Long =
    qes.map { qe =>
      try walkPlan(qe.executedPlan)
      catch { case _: Throwable => 0L }
    }.sum

  /** Drain `captured` to quiescence (size stable across two polls, at
    * least one element) within `deadlineMs`, then sum its plans'
    * shuffle bytes under the list's monitor. */
  private def drainAndSum(
      captured: java.util.List[QueryExecution],
      deadlineMs: Long = 1000L,
  ): Long = {
    val deadline = System.currentTimeMillis() + deadlineMs
    var last     = -1
    var stable   = 0
    while (stable < 2 && System.currentTimeMillis() < deadline) {
      val n = captured.size
      if (n == last && n > 0) stable += 1 else stable = 0
      last = n
      Thread.sleep(30)
    }
    import scala.jdk.CollectionConverters._
    val qes = captured.synchronized {
      new java.util.ArrayList(captured).asScala.toSeq
    }
    shuffleBytesOf(qes)
  }

  /** Run `action` and return the total shuffle bytes written by every
    * QueryExecution it triggered (inner driver actions included —
    * probes, training collects). Registers a throwaway listener for
    * the action's duration. */
  def measure(spark: SparkSession)(action: => Unit): Long = {
    val captured =
      java.util.Collections.synchronizedList(new java.util.ArrayList[QueryExecution]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        captured.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      drainAndSum(captured)
    } finally spark.listenerManager.unregister(listener)
  }
}
