package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier) — the "best trade-off" query
  * (Börzsönyi, Kossmann & Stocker, ICDE 2001): all points not
  * DOMINATED by another, where p' dominates p iff p' is at-most-equal
  * on the minimized axis, at-least-equal on the maximized axis, and
  * strictly better on at least one. The naive formulation is a
  * quadratic NOT EXISTS self-join; the scalable one exploits the 2-D
  * structure:
  *
  *  1. Reduce to one candidate per distinct x — `groupBy(x).max(y)` —
  *     a plain keyed aggregate (map-side combinable) that eliminates
  *     every same-x dominated point and shrinks the corpus to the
  *     x-DOMAIN, the quantized/bounded axis (prices in cents, sizes,
  *     dates), not the row count.
  *  2. One cummax sweep over the survivors sorted by x ascending: a
  *     candidate is on the skyline iff its y strictly exceeds the max
  *     y of every strictly-smaller x (ties on y lose to the smaller
  *     x, which dominates via the strict x advantage). The window is
  *     unpartitioned, but it runs over ≤|distinct x| rows — the same
  *     bounded-domain-histogram argument the quantile
  *     family rests on, NEVER the corpus.
  *
  * Row count touched by the sweep at 100 TB: |x domain|. The corpus
  * is touched exactly once, by the aggregate.
  */
object Skyline {

  /** Skyline points of `df` minimizing `xCol`, maximizing `yCol`:
    * one row per frontier point with `n_rows`, the number of source
    * rows AT that point (ties are all on the skyline — identical
    * points do not dominate each other). NULL x or y never wins a
    * comparison and is excluded, matching SQL dominance semantics.
    * Output columns keep the input names. */
  def pareto2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("n_rows"))
    val best = pts
      .groupBy(col(xCol))
      .agg(max(col(yCol)).as(yCol))
    val w = Window
      .orderBy(col(xCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = best
      .withColumn("__pmax", max(col(yCol)).over(w))
      .filter(col("__pmax").isNull || col(yCol) > col("__pmax"))
      .drop("__pmax")
    frontier.join(pts, Seq(xCol, yCol)).select(col(xCol), col(yCol), col("n_rows"))
  }
}
