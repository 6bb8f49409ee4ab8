package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Ordered-sequence (funnel) analytics: for each entity, the first
  * timestamp at which it reached step 1, then the first step-2 event
  * STRICTLY AFTER that, then the first step-3 event strictly after
  * step 2, and so on — the conversion-funnel primitive (product
  * analytics' `windowFunnel`; here the exact, unwindowed form plus a
  * per-step conversion rollup).
  *
  * Semantics are deliberately strict-ordering (`>`): an event at the
  * SAME timestamp as the previous step does not advance the funnel, so
  * results are deterministic under timestamp ties regardless of event
  * id ordering — and the definition is replayable as k chained
  * min-aggregations in any SQL engine.
  *
  * Scale shape: ONE shuffle on the entity key. Per entity the
  * aggregation collects each step's timestamps into an array
  * (bounded by that entity's event count — the [[Sessionize]]
  * boundedness; unsorted, since every consumer is order-independent),
  * and the sequential "first after previous" walk is a
  * map-only higher-order `filter` + `array_min` chain over those
  * arrays. A k-step funnel is NOT k self-joins: the k passes happen
  * inside one aggregated row. Events not matching any step are
  * filtered before the shuffle.
  */
object Funnel {

  /** Per-entity funnel timestamps: output is `idCol`, `step1_ts …
    * stepK_ts` (null once the funnel stalls), and `steps_completed`.
    * Entities with no step-1 event still appear (steps_completed 0)
    * when they have ANY funnel-step event; entities with no matching
    * events at all are naturally absent (the scan filter drops them).
    */
  def funnelSteps(
      events: DataFrame,
      idCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
  ): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"funnel steps must be distinct, got $steps")
    // one timestamp array per step, single shuffle on the id
    // collect_list without a sort: every consumer of these arrays
    // (array_min, filter + array_min) is order-independent, so sorting
    // inside the aggregate would be pure reduce-side CPU
    val perStep = steps.zipWithIndex.map { case (s, i) =>
      collect_list(when(col(typeCol) === lit(s), col(tsCol))).as(s"__a$i")
    }
    val grouped = events
      .filter(col(typeCol).isInCollection(steps))
      .groupBy(col(idCol))
      .agg(perStep.head, perStep.tail: _*)
    // sequential walk: t_i = min of step-i timestamps strictly after
    // t_{i-1}. A null t_{i-1} makes the lambda comparison null, the
    // filter drops every element, and array_min of [] is null — the
    // stall propagates with no explicit case analysis.
    val ts: Seq[Column] = steps.indices.foldLeft(Seq.empty[Column]) { (acc, i) =>
      val t =
        if (i == 0) array_min(col("__a0"))
        else array_min(filter(col(s"__a$i"), x => x > acc.last))
      acc :+ t
    }
    val named = ts.zipWithIndex.map { case (t, i) => t.as(s"step${i + 1}_ts") }
    val completed = steps.indices
      .map(i => when(col(s"step${i + 1}_ts").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    grouped
      .select(col(idCol) +: named: _*)
      .withColumn("steps_completed", completed)
  }

  /** BOUNDED per-user streaming-funnel state (epoch micros).
    *
    * Exactness does not need the full per-step timestamp lists:
    *  - `t1` is a plain min, so a scalar is enough — a late step-1
    *    event folds in with `min`.
    *  - For step i > 1, an entry's eligibility (`ts > t_{i-1}`) is
    *    PERMANENT once true, because t_{i-1} only ever decreases; so
    *    eligible entries fold into the scalar min `m_i` immediately.
    *  - The only entries that must be retained verbatim are the
    *    PENDING ones — `ts ≤ t_{i-1}` (or t_{i-1} still null) that a
    *    future decrease of t_{i-1} could promote. The watermark bounds
    *    them: every future event has `ts ≥ wm`, so the final t_{i-1}
    *    is ≥ min(t_{i-1}, wm), and any pending entry with
    *    `ts ≤ min(t_{i-1}, wm)` can never clear the strict `>` — it is
    *    dropped. What survives is always in `(wm, t_{i-1}]`, i.e.
    *    newer than the watermark: state is bounded by the per-user
    *    event count INSIDE the allowed-lateness horizon, the
    *    [[Sessionize]] boundedness class, not the full history.
    * `max_seen_us` drives the idle event-time timeout. */
  final case class FunnelState(
      t1: Option[Long],
      m2: Option[Long],
      p2: Seq[Long],
      m3: Option[Long],
      p3: Seq[Long],
      max_seen_us: Long,
  )

  /** One pending-vs-eligible fold for a single funnel step: `cand`
    * entries strictly above the (already updated) previous-step
    * timestamp fold into the scalar min; the rest stay pending unless
    * the watermark proves them forever ineligible. Pure — unit-testable
    * without a streaming harness. */
  private[ops] def foldStep(
      m: Option[Long],
      cand: Seq[Long],
      prev: Option[Long],
      wmUs: Long,
  ): (Option[Long], Seq[Long]) = {
    val (elig, pend) = prev match {
      case Some(p) => cand.partition(_ > p)
      case None    => (Seq.empty[Long], cand)
    }
    ((m.toSeq ++ elig).minOption, pend.filter(_ > wmUs))
  }

  /** The complete per-batch state fold (pure): updates t1 first, then
    * step 2 against the new t1, then step 3 against the new t2 — each
    * later step sees the most-permissive (smallest) prior timestamp,
    * which is exactly the final one. */
  private[ops] def foldFunnel3(
      st: FunnelState,
      a1: Seq[Long],
      a2: Seq[Long],
      a3: Seq[Long],
      wmUs: Long,
  ): FunnelState = {
    val t1       = (st.t1.toSeq ++ a1).minOption
    val (m2, p2) = foldStep(st.m2, st.p2 ++ a2, t1, wmUs)
    val (m3, p3) = foldStep(st.m3, st.p3 ++ a3, m2, wmUs)
    val mx       = (st.max_seen_us +: (a1 ++ a2 ++ a3)).max
    FunnelState(t1, m2, p2, m3, p3, mx)
  }

  /** One per-user update: the walk recomputed over all events seen so
    * far. Timestamps as epoch micros (nullable). */
  final case class FunnelUpdate(
      user_id: Long,
      step1_us: Option[Long],
      step2_us: Option[Long],
      step3_us: Option[Long],
      steps_completed: Int,
  )

  /** Streaming 3-step funnel over `mapGroupsWithState` — the custom-
    * state form of [[funnelSteps]] (SURVEY §2.8's stateful extension
    * point). Each micro-batch
    * folds its events into the per-user state ([[foldFunnel3]] — the
    * watermark-bounded scalar-min + pending-window form) and emits
    * that user's recomputed walk (update mode).
    *
    * State lifecycle: the op sets its own watermark (`watermarkDelay`)
    * — which both lets Spark drop too-late rows and bounds the pending
    * lists — and an EVENT-TIME idle timeout: a user whose newest event
    * is `idleRetention` behind the advancing watermark has their final
    * walk emitted once more and their state REMOVED. On an unbounded
    * stream, per-user state is therefore bounded in size (pending
    * entries live only inside the lateness horizon) AND in lifetime
    * (idle users age out), the [[Sessionize]] bar.
    *
    * The emitted stream is FINALIZABLE BY AGGREGATION: as events
    * accumulate, t1 only decreases (a min), which weakens the
    * `ts > t1` constraint on step 2, so t2 only decreases, and t3
    * likewise; `steps_completed` only grows. Every emitted column is
    * therefore monotone toward its final value, and
    * `groupBy(user).agg(min ts…, max steps)` over ALL updates equals
    * the last update — i.e. equals the batch [[funnelSteps]] result,
    * which is exactly what the gate's oracle checks after a
    * multi-batch replay. */
  def streamingFunnel3(
      events: DataFrame,
      idCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      watermarkDelay: String = "1 hour",
      idleRetentionMs: Long = 30L * 24 * 3600 * 1000,
  ): Dataset[FunnelUpdate] = {
    require(steps.size == 3, s"streamingFunnel3 is the fixed 3-step form, got $steps")
    require(steps.distinct == steps, s"funnel steps must be distinct, got $steps")
    // the state key is a Long: reject non-numeric id columns loudly —
    // cast("long") would null them and crash the non-nullable tuple
    // encoder mid-stream with a far less useful error
    require(
      events.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"streamingFunnel3 needs a numeric $idCol, got ${events.schema(idCol).dataType}",
    )
    val spark = events.sparkSession
    import spark.implicits._
    val Seq(s1, s2, s3) = steps
    val typed = events
      .filter(col(typeCol).isInCollection(steps))
      .select(col(idCol).cast("long").as("__uid"), col(typeCol).as("__t"), col(tsCol).as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state) =>
          def emit(st: FunnelState): FunnelUpdate =
            FunnelUpdate(uid, st.t1, st.m2, st.m3, Seq(st.t1, st.m2, st.m3).count(_.isDefined))
          val prior = state.getOption.getOrElse(FunnelState(None, None, Nil, None, Nil, 0L))
          if (state.hasTimedOut) {
            // idle past the retention horizon: final walk, state gone
            state.remove()
            emit(prior)
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            val (a1, a2, a3) =
              (Seq.newBuilder[Long], Seq.newBuilder[Long], Seq.newBuilder[Long])
            it.foreach { case (_, t, ts) =>
              // floorDiv: truncating division would shift pre-epoch
              // timestamps toward zero and reorder them
              val us = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
              if (t == s1) a1 += us else if (t == s2) a2 += us else if (t == s3) a3 += us
            }
            val st = foldFunnel3(prior, a1.result(), a2.result(), a3.result(), wmMs * 1000L)
            state.update(st)
            // expire once the watermark is idleRetention past this
            // user's newest event (must be set strictly above the
            // current watermark)
            state.setTimeoutTimestamp(math.max(st.max_seen_us / 1000L, wmMs + 1L) + idleRetentionMs)
            emit(st)
          }
      }
  }

  /** Funnel conversion rollup: one row per step with the number of
    * entities that reached it and the conversion rate from step 1 —
    * the report a funnel dashboard renders. Input is [[funnelSteps]]'
    * output; the rollup is a single tiny aggregation (k rows out). */
  def funnelReport(stepsDf: DataFrame, nSteps: Int): DataFrame = {
    val counts = (1 to nSteps).map(i =>
      coalesce(sum(when(col(s"step${i}_ts").isNotNull, 1L).otherwise(0L)), lit(0L)).as(s"__n$i")
    )
    val agg = stepsDf.agg(counts.head, counts.tail: _*)
    val rows = (1 to nSteps).map { i =>
      struct(
        lit(i).as("step"),
        col(s"__n$i").as("n_reached"),
        // integer division end-to-end: bigint `/` would go through
        // double and drift from exact past 2^53
        when(col("__n1") > 0, expr(s"(__n$i * 1000000L) div __n1"))
          .otherwise(lit(0L))
          .cast("long")
          .as("rate_ppm"),
      )
    }
    agg
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.step"), col("r.n_reached"), col("r.rate_ppm"))
  }
}
