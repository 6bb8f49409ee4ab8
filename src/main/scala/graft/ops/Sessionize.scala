package graft.ops

import graft.expr.Parity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: [[batchSessions]], the declarative form —
  * a boundary flag (`gap > threshold`) turned into session ids by a
  * running sum, then one aggregation. Two window passes + one shuffle.
  */
object Sessionize {

  /** Declarative batch sessionization over (user_id, ts, event_id, value). */
  def batchSessions(events: DataFrame, gapMs: Long): DataFrame = {
    val w   = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(unix_millis(col("ts")), 1).over(w)
    val isNew = when(prev.isNull || unix_millis(col("ts")) - prev > gapMs, 1).otherwise(0)
    events
      .withColumn("__new", isNew)
      .withColumn("session_id", sum(col("__new")).over(run))
      .groupBy("user_id", "session_id")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        Parity.dsum(col("value")).as("total_value"),
      )
  }
}
