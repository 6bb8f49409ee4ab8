package graft.queries

import graft.Tables._
import graft.expr.Parity._
import graft.ops.{AsOf, Timeseries}
import org.apache.spark.sql.functions._

/** Event-table operators: schema-on-read JSON extraction (P1), time
  * bucketing (the batch shape of the streaming pipeline), severity
  * mapping (F5), pivot, per-entity first-match (A5/T3 as higher-order
  * functions over within-group arrays — the SURVEY §4.2 rewrite of the
  * reference's correlated `LIMIT 1` subqueries), and the as-of join
  * ([[graft.ops.AsOf]]).
  */
object Events {

  /** Weighted behavioral transition edges (src, dst, n) — the per-user
    * lead window over the events corpus, paid ONCE and shared by
    * `evt_transition_matrix` and `misc_markov_steady` (the
    * [[MiscQueries]] trade-projection pattern: the window is the
    * corpus-proportional cost, the |types|²-bounded result is cheap to
    * persist). */
  private[queries] val sharedTransitionPairs =
    Shared("transition_pairs", Set("evt_transition_matrix", "misc_markov_steady")) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** This suite's shared artifacts, in prewarm order. */
  private[graft] def artifacts: Seq[Shared[_]] =
    Seq(sharedTransitionPairs, dtwSeriesDf, dtwPairsCheckpointed, dtwSeriesPairs)

  def prewarmShared(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      selected: Option[Set[String]] = None,
  ): Seq[(String, Double)] = Shared.prewarm(artifacts, s, d, selected)

  /** P1 dynamic JSON path extraction from a string column. */
  private val jsonExtractGroup = Q(
    "evt_json_extract_group",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n
      |FROM events GROUP BY k""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
  }

  /** F5: the SARIF level → OCSF severity CASE map, keyed on event_type. */
  private val severityCaseMap = Q(
    "evt_severity_case_map",
    """SELECT event_type,
      |  CASE event_type WHEN 'error' THEN 5 WHEN 'signup' THEN 4 WHEN 'purchase' THEN 3
      |       WHEN 'click' THEN 2 ELSE 1 END AS severity_id,
      |  CASE event_type WHEN 'error' THEN 'High' WHEN 'signup' THEN 'Medium'
      |       WHEN 'purchase' THEN 'Low' WHEN 'click' THEN 'Informational'
      |       ELSE 'Unknown' END AS severity,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1, 2, 3""".stripMargin,
  ) { (s, d) =>
    val sevId = when(col("event_type") === "error", 5)
      .when(col("event_type") === "signup", 4)
      .when(col("event_type") === "purchase", 3)
      .when(col("event_type") === "click", 2)
      .otherwise(1)
    val sevName = when(col("event_type") === "error", "High")
      .when(col("event_type") === "signup", "Medium")
      .when(col("event_type") === "purchase", "Low")
      .when(col("event_type") === "click", "Informational")
      .otherwise("Unknown")
    events(s, d)
      .groupBy(col("event_type"), sevId.as("severity_id"), sevName.as("severity"))
      .agg(count(lit(1)).as("n"))
  }

  /** Calendar bucketing via date_trunc. */
  private val dateTruncHour = Q(
    "evt_date_trunc_hour",
    s"""SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n, ${DSUM("value")} AS total
       |FROM events GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
  }

  /** Integer spike detection — event-rate anomaly flagging, the
    * monitoring query every ingestion pipeline runs over its volume
    * metrics. Per (event_type, hour) counts are compared against the
    * type's mean hourly rate in integer PPM (total·10⁶ div hours — the
    * [[transitionMatrix]] discipline: no float mean, so the flag is
    * bit-identical across engines and partitionings). A z-score
    * variant would need cross-engine float σ; the 2×-mean threshold
    * keeps the gate exact, and the aggregate-then-window shape (the
    * window runs over the BOUNDED hourly table, never the corpus) is
    * the part that matters at 100 TB. */
  /** Shared oracle SQL for the batch and streaming rate-anomaly gates
    * (a tweak to the spike rule must change both twins or fork them
    * visibly here). */
  private[queries] val rateAnomalySql: String =
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, hour_ts, n,
      |  CAST((sum(n) OVER (PARTITION BY event_type) * 1000000)
      |    // count(*) OVER (PARTITION BY event_type) AS BIGINT) AS mean_ppm,
      |  n * count(*) OVER (PARTITION BY event_type)
      |    > 2 * sum(n) OVER (PARTITION BY event_type) AS is_spike
      |FROM h""".stripMargin

  /** Spike flags over a (event_type, hour_ts, n) hourly table — the
    * view both the batch gate and the streaming twin derive. The spike
    * test cross-multiplies (n·hours > 2·total) instead of comparing
    * against the floored mean_ppm, so the boolean is exact with no
    * floor-boundary sensitivity AND no scale factor eating overflow
    * headroom; mean_ppm itself is reported floored (`div`), matching
    * DuckDB's `//`. */
  private[queries] def spikeView(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
    hourly
      .withColumn("__total", sum(col("n")).over(w))
      .withColumn("__hours", count(lit(1)).over(w))
      .select(
        col("event_type"),
        col("hour_ts"),
        col("n"),
        expr("(__total * 1000000) div __hours").as("mean_ppm"),
        (col("n") * col("__hours") > lit(2) * col("__total")).as("is_spike"),
      )
  }

  private val rateAnomaly = Q("evt_rate_anomaly", rateAnomalySql) { (s, d) =>
    spikeView(
      events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n"))
    )
  }

  /** Tumbling event-time window — the batch equivalent of the Structured
    * Streaming windowed aggregation (both are epoch-aligned). */
  private val tumbling15min = Q(
    "evt_tumbling_15min",
    s"""SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start, event_type,
       |  COUNT(*) AS n, ${DSUM("value")} AS total
       |FROM events GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("bucket_start"), col("event_type"), col("n"), col("total"))
  }

  /** Pivot (event_type counts per user). Spark's pivot yields NULL for
    * absent cells; the oracle mirrors with NULLIF(count_if). */
  private val pivotUserCounts = Q(
    "evt_pivot_user_counts",
    """SELECT user_id,
      |  CAST(NULLIF(count_if(event_type = 'click'), 0) AS BIGINT) AS click,
      |  CAST(NULLIF(count_if(event_type = 'view'), 0) AS BIGINT) AS view,
      |  CAST(NULLIF(count_if(event_type = 'purchase'), 0) AS BIGINT) AS purchase,
      |  CAST(NULLIF(count_if(event_type = 'signup'), 0) AS BIGINT) AS signup,
      |  CAST(NULLIF(count_if(event_type = 'error'), 0) AS BIGINT) AS error
      |FROM events GROUP BY user_id""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
  }

  /** A5/T3: first array element matching a predicate, per entity — the
    * reference's `(SELECT ... WHERE name = '...' LIMIT 1)` correlated
    * subquery, rewritten to sorted collect + higher-order filter
    * (within-group, no extra join; see SURVEY §4.2). */
  private val firstMatchPerUser = Q(
    "evt_first_match_per_user",
    """SELECT user_id, fp.value AS first_purchase_value, fp.event_id AS first_purchase_event
      |FROM (
      |  SELECT user_id,
      |    list_filter(list(struct_pack(ts := ts, event_id := event_id, event_type := event_type,
      |                                 value := value) ORDER BY ts, event_id),
      |                x -> x.event_type = 'purchase')[1] AS fp
      |  FROM events GROUP BY user_id)""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .agg(
        sort_array(
          collect_list(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
        ).as("evts")
      )
      .select(
        col("user_id"),
        try_element_at(filter(col("evts"), x => x.getField("event_type") === "purchase"), lit(1))
          .as("fp"),
      )
      .select(
        col("user_id"),
        col("fp.value").as("first_purchase_value"),
        col("fp.event_id").as("first_purchase_event"),
      )
  }

  /** As-of join: each error event picks up the latest click by the same
    * user at or before it. Linear union–scan plan, not a range cross
    * join ([[graft.ops.AsOf]]). */
  private val asofErrorClick = Q(
    "evt_asof_error_click",
    """SELECT e.event_id, e.user_id, c.event_id AS click_event_id, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
  ) { (s, d) =>
    val ev     = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
    val clicks = ev.filter(col("event_type") === "click")
    AsOf
      .joinAtOrBefore(
        errors,
        clicks,
        keys = Seq("user_id"),
        ts = "ts",
        payloadCols = Seq("event_id", "value"),
        rightTieBreak = "event_id",
        outPrefix = "click_",
      )
      .select("event_id", "user_id", "click_event_id", "click_value")
  }

  /** Staleness-bounded as-of join
    * ([[graft.ops.AsOf.joinAtOrBeforeWithin]]): the error-click
    * labeling with a 3-day tolerance — a click older than the bound is
    * not a usable antecedent and nulls out like a no-match. Oracle:
    * DuckDB ASOF LEFT JOIN plus the identical microsecond staleness
    * CASE. */
  private val asofWithinQ = Q(
    "evt_asof_within",
    """SELECT event_id, user_id,
      |  CASE WHEN ok THEN click_event_id END AS click_event_id,
      |  CASE WHEN ok THEN click_value END AS click_value
      |FROM (
      |  SELECT e.event_id, e.user_id, c.event_id AS click_event_id, c.value AS click_value,
      |    epoch_us(e.ts) - epoch_us(c.ts) <= 259200000000 AS ok
      |  FROM (SELECT * FROM events WHERE event_type = 'error') e
      |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON e.user_id = c.user_id AND e.ts >= c.ts)""".stripMargin,
  ) { (s, d) =>
    val ev     = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
    val clicks = ev.filter(col("event_type") === "click")
    AsOf
      .joinAtOrBeforeWithin(
        errors,
        clicks,
        keys = Seq("user_id"),
        ts = "ts",
        payloadCols = Seq("event_id", "value"),
        rightTieBreak = "event_id",
        toleranceUs = 259200000000L, // 3 days
        outPrefix = "click_",
      )
      .select("event_id", "user_id", "click_event_id", "click_value")
  }

  /** Nearest-in-time as-of join ([[graft.ops.AsOf.joinNearest]]): each
    * error labeled with the CLOSEST click in either direction per user
    * (distance ties break backward — never leak the future when
    * equidistant). The oracle composes DuckDB's two ASOF directions
    * and replays the identical microsecond pick. */
  private val asofNearestQ = Q(
    "evt_asof_nearest",
    """WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |b AS (SELECT e.event_id, e.user_id, e.ts, c.event_id AS b_id, c.value AS b_value, c.ts AS b_ts
      |      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts),
      |f AS (SELECT e.event_id, c.event_id AS f_id, c.value AS f_value, c.ts AS f_ts
      |      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts <= c.ts)
      |SELECT b.event_id, b.user_id,
      |  CASE WHEN (f_ts IS NULL OR (b_ts IS NOT NULL
      |         AND epoch_us(b.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(b.ts)))
      |       THEN b_id ELSE f_id END AS near_event_id,
      |  CASE WHEN (f_ts IS NULL OR (b_ts IS NOT NULL
      |         AND epoch_us(b.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(b.ts)))
      |       THEN b_value ELSE f_value END AS near_value,
      |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
      |       WHEN (f_ts IS NULL OR (b_ts IS NOT NULL
      |         AND epoch_us(b.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(b.ts)))
      |       THEN 'b' ELSE 'f' END AS near_side
      |FROM b JOIN f USING (event_id)""".stripMargin,
  ) { (s, d) =>
    val ev     = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
    val clicks = ev.filter(col("event_type") === "click")
    graft.ops.AsOf
      .joinNearest(
        errors,
        clicks,
        keys = Seq("user_id"),
        ts = "ts",
        payloadCols = Seq("event_id", "value"),
        rightTieBreak = "event_id",
        outPrefix = "near_",
      )
      .select("event_id", "user_id", "near_event_id", "near_value", "near_side")
  }

  /** Forward as-of join ([[graft.ops.AsOf.joinAtOrAfter]]): each error
    * labeled with the NEXT view at or after it per user — the
    * "next event after" dual of [[asofErrorClick]], same union–scan
    * shape in descending time order. DuckDB states it as
    * `ASOF LEFT JOIN ... ON e.ts <= v.ts`. */
  private val asofNextView = Q(
    "evt_asof_next_view",
    """SELECT e.event_id, e.user_id, v.event_id AS view_event_id, v.value AS view_value
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON e.user_id = v.user_id AND e.ts <= v.ts""".stripMargin,
  ) { (s, d) =>
    val ev     = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
    val views  = ev.filter(col("event_type") === "view")
    AsOf
      .joinAtOrAfter(
        errors,
        views,
        keys = Seq("user_id"),
        ts = "ts",
        payloadCols = Seq("event_id", "value"),
        rightTieBreak = "event_id",
        outPrefix = "view_",
      )
      .select("event_id", "user_id", "view_event_id", "view_value")
  }

  /** Gap-based sessionization (30-min inactivity), declarative batch
    * form ([[graft.ops.Sessionize.batchSessions]]). */
  private val sessionize = Q(
    "evt_sessionize",
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
       |              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |numbered AS (
       |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       |  COUNT(*) AS n_events, ${DSUM("value")} AS total_value
       |FROM numbered GROUP BY user_id, session_id""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sessionize.batchSessions(events(s, d), gapMs = 1800000L)
  }

  /** Array set operations (intersect/except) over per-user event-type
    * sets from two time slices, serialized sorted for type-stable
    * comparison. */
  private val typeOverlap = Q(
    "evt_type_overlap",
    """WITH per_user AS (
      |  SELECT user_id,
      |    list_sort(list_distinct(list(event_type) FILTER (WHERE ts <  TIMESTAMP '2024-01-16'))) AS early,
      |    list_sort(list_distinct(list(event_type) FILTER (WHERE ts >= TIMESTAMP '2024-01-16'))) AS late
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  coalesce(array_to_string(list_sort(list_intersect(early, late)), ','), '') AS common_types,
      |  coalesce(array_to_string(list_sort(list_filter(early, x -> NOT list_contains(late, x))), ','), '')
      |    AS early_only
      |FROM per_user""".stripMargin,
  ) { (s, d) =>
    val cut = to_timestamp(lit("2024-01-16"))
    events(s, d)
      .groupBy("user_id")
      .agg(
        array_sort(collect_set(when(col("ts") < cut, col("event_type")))).as("early"),
        array_sort(collect_set(when(col("ts") >= cut, col("event_type")))).as("late"),
      )
      .select(
        col("user_id"),
        array_join(array_sort(array_intersect(col("early"), col("late"))), ",").as("common_types"),
        array_join(array_sort(array_except(col("early"), col("late"))), ",").as("early_only"),
      )
  }

  /** Map construction + map_filter: per-user event_type→count map kept
    * to entries with count >= 5, serialized as sorted `k=v` pairs (maps
    * are unordered — the string form is the type-stable comparison,
    * same policy as arrays). The oracle never builds a map: it filters
    * grouped counts and string_aggs them in key order — same result. */
  private val mapFilterCounts = Q(
    "evt_map_filter_counts",
    """WITH per AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  coalesce(string_agg(CASE WHEN c >= 5 THEN event_type || '=' || c END,
      |                      ',' ORDER BY event_type), '') AS frequent
      |FROM per GROUP BY user_id""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("c")))).as("m"))
      .select(
        col("user_id"),
        array_join(
          transform(
            array_sort(map_entries(map_filter(col("m"), (_, v) => v >= 5))),
            e => concat(e.getField("key"), lit("="), e.getField("value")),
          ),
          ",",
        ).as("frequent"),
      )
  }

  /** map_zip_with: per-user event_type→count maps for the month's two
    * halves, zipped with null-tolerant addition, serialized sorted. The
    * oracle reproduces the zip as a grouped conditional sum. */
  private val mapZipSum = Q(
    "evt_map_zip_sum",
    """WITH per AS (
      |  SELECT user_id, event_type,
      |    count(*) FILTER (WHERE ts <  TIMESTAMP '2024-01-16') AS c1,
      |    count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS c2
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  string_agg(event_type || '=' || (c1 + c2), ',' ORDER BY event_type) AS combined
      |FROM per GROUP BY user_id""".stripMargin,
  ) { (s, d) =>
    val cut = to_timestamp(lit("2024-01-16"))
    val halves = events(s, d)
      .groupBy("user_id", "event_type")
      .agg(
        count(when(col("ts") < cut, 1)).as("c1"),
        count(when(col("ts") >= cut, 1)).as("c2"),
      )
    // Each half's map only carries types seen in that half (collect_list
    // drops the null structs), so the zip really hits absent keys.
    halves
      .groupBy("user_id")
      .agg(
        map_from_entries(
          collect_list(when(col("c1") > 0, struct(col("event_type"), col("c1"))))
        ).as("m1"),
        map_from_entries(
          collect_list(when(col("c2") > 0, struct(col("event_type"), col("c2"))))
        ).as("m2"),
      )
      .select(
        col("user_id"),
        array_join(
          transform(
            array_sort(map_entries(
              map_zip_with(col("m1"), col("m2"), (_, a, b) => coalesce(a, lit(0L)) + coalesce(b, lit(0L)))
            )),
            e => concat(e.getField("key"), lit("="), e.getField("value")),
          ),
          ",",
        ).as("combined"),
      )
  }

  /** Native session_window grouping (the built-in operator twin of the
    * manual gap-flag sessionization above): Spark merges events within
    * a 30-minute gap into one window whose end extends one gap past the
    * last event. The oracle derives the same bounds from the gap-flag
    * construction: start = min(ts), end = max(ts) + gap. */
  private val sessionWindowNative = Q(
    "evt_session_window_native",
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
       |              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |numbered AS (
       |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       |  FROM flagged)
       |SELECT user_id, min(ts) AS w_start,
       |  max(ts) + INTERVAL 30 MINUTE AS w_end, COUNT(*) AS n_events
       |FROM numbered GROUP BY user_id, sid""".stripMargin,
  ) { (s, d) =>
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("w_start"), col("sw.end").as("w_end"), col("n_events"))
  }

  /** Conversion funnel ([[graft.ops.Funnel.funnelSteps]]): first view,
    * first click strictly after it, first purchase strictly after that —
    * per user, one shuffle, the k-step walk done with higher-order
    * filter/array_min inside the aggregated row instead of k
    * self-joins. Oracle: the same semantics as chained min-aggregation
    * CTEs (the textbook SQL funnel — which IS k joins; the Spark form
    * is the single-shuffle rewrite of it). */
  private val funnelStepsQ = Q(
    "evt_funnel_steps",
    """WITH base AS (
      |  SELECT DISTINCT user_id FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |t1 AS (SELECT user_id, min(ts) AS ts1 FROM events
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e
      |       JOIN t1 ON t1.user_id = e.user_id AND e.ts > t1.ts1
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e
      |       JOIN t2 ON t2.user_id = e.user_id AND e.ts > t2.ts2
      |       WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT b.user_id, ts1 AS step1_ts, ts2 AS step2_ts, ts3 AS step3_ts,
      |  (CASE WHEN ts1 IS NULL THEN 0 ELSE 1 END
      |   + CASE WHEN ts2 IS NULL THEN 0 ELSE 1 END
      |   + CASE WHEN ts3 IS NULL THEN 0 ELSE 1 END) AS steps_completed
      |FROM base b
      |LEFT JOIN t1 ON t1.user_id = b.user_id
      |LEFT JOIN t2 ON t2.user_id = b.user_id
      |LEFT JOIN t3 ON t3.user_id = b.user_id""".stripMargin,
  ) { (s, d) =>
    graft.ops.Funnel.funnelSteps(
      events(s, d),
      idCol = "user_id",
      typeCol = "event_type",
      tsCol = "ts",
      steps = Seq("view", "click", "purchase"),
    )
  }

  /** Funnel conversion rollup: reached-count + ppm conversion rate per
    * step (integer floor arithmetic — no float-division dialect gap). */
  private val funnelReportQ = Q(
    "evt_funnel_report",
    """WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e
      |       JOIN t1 ON t1.user_id = e.user_id AND e.ts > t1.ts1
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e
      |       JOIN t2 ON t2.user_id = e.user_id AND e.ts > t2.ts2
      |       WHERE e.event_type = 'purchase' GROUP BY 1),
      |n AS (SELECT (SELECT count(*) FROM t1) AS n1,
      |             (SELECT count(*) FROM t2) AS n2,
      |             (SELECT count(*) FROM t3) AS n3)
      |SELECT 1 AS step, n1 AS n_reached,
      |  CASE WHEN n1 > 0 THEN CAST((n1 * 1000000) // n1 AS BIGINT) ELSE 0 END AS rate_ppm
      |FROM n
      |UNION ALL
      |SELECT 2, n2,
      |  CASE WHEN n1 > 0 THEN CAST((n2 * 1000000) // n1 AS BIGINT) ELSE 0 END
      |FROM n
      |UNION ALL
      |SELECT 3, n3,
      |  CASE WHEN n1 > 0 THEN CAST((n3 * 1000000) // n1 AS BIGINT) ELSE 0 END
      |FROM n""".stripMargin,
  ) { (s, d) =>
    val steps = graft.ops.Funnel.funnelSteps(
      events(s, d),
      idCol = "user_id",
      typeCol = "event_type",
      tsCol = "ts",
      steps = Seq("view", "click", "purchase"),
    )
    graft.ops.Funnel.funnelReport(steps, nSteps = 3)
  }

  /** Exponentially decayed engagement score — the recency-weighted
    * counter behind retention/engagement dashboards (half-life = 1
    * day), INTEGER-EXACT: each event contributes `2²⁰ >> age_days`
    * (age clamped to 62 so the shift stays defined), so the score is
    * a sum of exact powers of two — bit-identical under any partition
    * or summation order, no `exp()`/float decay crossing the engine
    * boundary. The reference point (corpus max day) is a 1-row
    * broadcast. */
  /** Interval coalescing ([[graft.ops.Intervals.merge]]): each event
    * opens a 30-minute activity interval; overlapping intervals per
    * user merge into maximal activity spans (coverage counts overlaps
    * ONCE — the un-double-counted "time active" a plain sum of window
    * lengths gets wrong). One exchange, two shared windows, exact
    * timestamps and integer seconds. */
  private val intervalMergeQ = Q(
    "evt_interval_merge",
    """WITH iv AS (
      |  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |g AS (
      |  SELECT *, sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM m),
      |merged AS (
      |  SELECT user_id, min(s) AS start, max(e) AS "end", count(*) AS n_rows
      |  FROM g GROUP BY user_id, grp)
      |SELECT user_id, start, "end", n_rows,
      |  CAST(date_diff('second', start, "end") AS BIGINT) AS dur_sec
      |FROM merged""".stripMargin,
  ) { (s, d) =>
    val iv = events(s, d).select(
      col("user_id"),
      col("ts").as("s"),
      (col("ts") + expr("INTERVAL 30 MINUTES")).as("e"),
    )
    graft.ops.Intervals
      .merge(iv, Seq("user_id"), "s", "e")
      .select(
        col("user_id"),
        col("start"),
        col("end"),
        col("n_rows"),
        unix_timestamp(col("end")).minus(unix_timestamp(col("start"))).as("dur_sec"),
      )
  }

  /** Multi-touch attribution ([[graft.ops.Attribution.attribute]]):
    * purchase revenue credited to the user's click/view touches in the
    * preceding 7 days under linear + first + last models at once, all
    * integer cents (linear remainder to the last touch, so credit
    * conserves exactly). The oracle replays the interval join, the
    * three windows, and the div/mod split verbatim. */
  private val attributionQ = Q(
    "evt_attribution",
    """WITH conv AS (
      |  SELECT event_id AS conv_id, user_id, ts AS conv_ts,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT event_id AS touch_id, user_id, ts AS touch_ts, event_type AS touch_type
      |  FROM events WHERE event_type IN ('click', 'view')),
      |pairs AS (
      |  SELECT c.conv_id, c.user_id, c.cents, t.touch_id, t.touch_ts, t.touch_type
      |  FROM conv c JOIN touch t ON c.user_id = t.user_id
      |   AND t.touch_ts < c.conv_ts AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY),
      |shares AS (
      |  SELECT *, count(*) OVER (PARTITION BY conv_id) AS nt,
      |    row_number() OVER (PARTITION BY conv_id
      |                       ORDER BY touch_ts ASC, touch_id ASC) AS rn_first,
      |    row_number() OVER (PARTITION BY conv_id
      |                       ORDER BY touch_ts DESC, touch_id DESC) AS rn_last
      |  FROM pairs)
      |SELECT touch_id, user_id, touch_type, count(*) AS n_conversions,
      |  CAST(sum(cents // nt + CASE WHEN rn_last = 1 THEN cents % nt ELSE 0 END)
      |    AS BIGINT) AS linear_cents,
      |  CAST(sum(CASE WHEN rn_first = 1 THEN cents ELSE 0 END) AS BIGINT) AS first_cents,
      |  CAST(sum(CASE WHEN rn_last = 1 THEN cents ELSE 0 END) AS BIGINT) AS last_cents
      |FROM shares GROUP BY 1, 2, 3""".stripMargin,
  ) { (s, d) =>
    graft.ops.Attribution.attribute(
      events(s, d),
      convType = "purchase",
      touchTypes = Seq("click", "view"),
      windowDays = 7,
    )
  }

  private val decayedEngagement = Q(
    "evt_decayed_engagement",
    """WITH m AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events)
      |SELECT user_id,
      |  CAST(sum(1048576 >> least(date_diff('day', CAST(ts AS DATE), maxd), 62)) AS BIGINT)
      |    AS decayed_score,
      |  COUNT(*) AS n_events
      |FROM events, m GROUP BY user_id""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    ev.crossJoin(ev.agg(max(to_date(col("ts"))).as("__maxd")))
      .withColumn("__age", least(datediff(col("__maxd"), to_date(col("ts"))), lit(62)))
      .groupBy("user_id")
      .agg(
        sum(expr("shiftright(1048576L, CAST(__age AS INT))")).as("decayed_score"),
        count(lit(1)).as("n_events"),
      )
  }

  /** Cohort retention matrix — the product-analytics companion of the
    * funnel: users grouped by their FIRST-seen week (the cohort), then
    * for every later week the number of cohort members still active —
    * one row per (cohort week, week offset). Two shuffles: the
    * per-user min (hash aggregate) and the distinct-count per cell;
    * the cohort table joins back broadcast-small relative to events.
    * Weeks are epoch-aligned 7-day buckets (integer division on epoch
    * days — identical arithmetic in any engine; calendar `week()`
    * functions differ on year boundaries across engines, so the gate
    * deliberately avoids them). */
  private val cohortRetention = Q(
    "evt_cohort_retention",
    """WITH wk AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS w
      |  FROM events),
      |cohort AS (SELECT user_id, min(w) AS cw FROM wk GROUP BY 1)
      |SELECT c.cw AS cohort_week, wk.w - c.cw AS week_offset,
      |  count(DISTINCT wk.user_id) AS n_active
      |FROM wk JOIN cohort c ON c.user_id = wk.user_id
      |GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    val wk = events(s, d)
      .select(col("user_id"), floor(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) / 7).as("w"))
    val cohort = wk.groupBy("user_id").agg(min(col("w")).as("cw"))
    wk.join(cohort, "user_id")
      .groupBy(col("cw").as("cohort_week"), (col("w") - col("cw")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Rolling 7-day active users (WAU) per day — computed by the
    * EXPLODE-OFFSET trick, not a range self-join: each distinct
    * (user, day) contributes to exactly the 7 window days it can be
    * seen from, so the dataflow is dedup → 7× row expansion → one
    * distinct-count aggregate. Linear in user-days with a constant
    * factor of 7, where the textbook `JOIN ON day BETWEEN d-6 AND d`
    * is a range join the optimizer can only nest-loop. Days are epoch
    * integers; trailing days past the corpus max are trimmed. */
  private val rollingWau = Q(
    "evt_rolling_wau",
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
      |  FROM events),
      |mx AS (SELECT max(d) AS maxd FROM ud)
      |SELECT ud.d + o AS day, count(DISTINCT ud.user_id) AS wau
      |FROM ud, (SELECT unnest(generate_series(0, 6)) AS o) offs, mx
      |WHERE ud.d + o <= mx.maxd
      |GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val ud = events(s, d)
      .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).cast("long").as("d"))
      .distinct()
    val mx = ud.agg(max(col("d")).as("maxd"))
    ud.select(col("user_id"), explode(sequence(lit(0L), lit(6L))).as("o"), col("d"))
      .crossJoin(mx)
      .filter(col("d") + col("o") <= col("maxd"))
      .groupBy((col("d") + col("o")).as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
  }

  /** Event-transition (Markov) matrix — user-journey analysis: counts
    * of consecutive (event_type → next event_type) pairs within each
    * user's timeline, ordered by (ts, event_id) so timestamp ties are
    * deterministic. One window pass partitioned by user + one hash
    * aggregate; transition probabilities are integer ppm per source
    * state (floor division — engine-exact). */
  private val transitionMatrix = Q(
    "evt_transition_matrix",
    """WITH seq_ AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type, next_type, count(*) AS n FROM seq_
      |      WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS p_ppm
      |FROM c""".stripMargin,
  ) { (s, d) =>
    val c = sharedTransitionPairs(s, d)
      .select(col("src").as("event_type"), col("dst").as("next_type"), col("n"))
    // integer `div`, not floor(double /): past 2^53 the double quotient
    // rounds and would drift from the oracle's exact `//`
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    c.withColumn("__tot", sum(col("n")).over(tot))
      .withColumn("p_ppm", expr("(n * 1000000L) div __tot"))
      .drop("__tot")
  }

  /** Daily resample + gap fill + LOCF per user
    * ([[graft.ops.Timeseries.resampleDailyLocf]]): the dense
    * |users|·|days| activity grid every per-entity metrics rollup
    * feeds on — missing days carry the last observed count, days
    * before first activity stay NULL. */
  private val resampleLocfQ = Q(
    "evt_resample_locf",
    """WITH daily AS (
      |  SELECT user_id AS key, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      |grid AS (
      |  SELECT k.key, CAST(gs.g AS DATE) AS day
      |  FROM (SELECT DISTINCT key FROM daily) k
      |  CROSS JOIN (SELECT unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |                                            CAST(d1 AS TIMESTAMP),
      |                                            INTERVAL 1 DAY)) AS g FROM span) gs)
      |SELECT g.key AS key, g.day AS day, d.n AS n,
      |  last_value(d.n IGNORE NULLS) OVER (PARTITION BY g.key ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled,
      |  d.n IS NOT NULL AS observed
      |FROM grid g LEFT JOIN daily d USING (key, day)""".stripMargin,
  ) { (s, d) =>
    Timeseries.resampleDailyLocf(events(s, d), "user_id", "ts")
  }

  /** Integer-exact CUSUM change-point alarms over per-type hourly
    * rates ([[graft.ops.Timeseries.cusumHourly]]); the oracle replays
    * the sequential recursion as a recursive CTE — exact equality on
    * the full statistic series, not a tolerance band. */
  /** Shared oracle SQL for the batch and streaming CUSUM gates (the
    * [[rateAnomalySql]] convention: a tweak to the recursion must
    * change both twins or fork them visibly here). */
  private[queries] val cusumSql: String =
    """WITH RECURSIVE
      |counts AS (SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |hours AS (SELECT g AS hour_ts, row_number() OVER (ORDER BY g) AS rn
      |          FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g FROM span)),
      |grid AS (SELECT k.key, h.hour_ts, h.rn, coalesce(c.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM counts) k
      |         CROSS JOIN hours h
      |         LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.hour_ts),
      |tot AS (SELECT key, sum(n) AS total FROM grid GROUP BY 1),
      |nh AS (SELECT count(*) AS hh FROM hours),
      |g2 AS (SELECT grid.key, grid.rn, grid.hour_ts, grid.n, tot.total, nh.hh
      |       FROM grid JOIN tot USING (key) CROSS JOIN nh),
      |rec AS (
      |  SELECT key, rn, hour_ts, n, greatest(0, 4 * n * hh - 5 * total) AS s, total
      |  FROM g2 WHERE rn = 1
      |  UNION ALL
      |  SELECT g.key, g.rn, g.hour_ts, g.n,
      |         greatest(0, r.s + 4 * g.n * g.hh - 5 * g.total), g.total
      |  FROM rec r JOIN g2 g ON g.key = r.key AND g.rn = r.rn + 1)
      |SELECT key, hour_ts, n, CAST(s AS BIGINT) AS s_scaled, s > 8 * total AS alarm
      |FROM rec""".stripMargin

  /** Mann–Kendall monotone-trend test per event type over the dense
    * daily grid ([[graft.ops.Timeseries.mannKendallDaily]]): the
    * pair-sign statistic S plus the tie-corrected 18·Var(S) as exact
    * integers — the existence test beside evt_theilsen_trend's slope
    * estimate. Oracle replays grid, pairs, and tie census directly. */
  private val mannKendallQ = Q(
    "evt_mann_kendall",
    """WITH daily AS (SELECT event_type AS key, CAST(ts AS DATE) AS day, count(*) AS n
      |              FROM events GROUP BY 1, 2),
      |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      |grid AS (SELECT k.key, g.day, coalesce(d.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM daily) k
      |         CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      |                     FROM span) g
      |         LEFT JOIN daily d ON d.key = k.key AND d.day = g.day),
      |s AS (SELECT a.key,
      |        CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |      FROM grid a JOIN grid b ON b.key = a.key AND a.day < b.day GROUP BY 1),
      |ties AS (
      |  SELECT key, CAST(sum(t) AS BIGINT) AS n_days,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT key, n, count(*) AS t FROM grid GROUP BY 1, 2) GROUP BY 1)
      |SELECT t.key, t.n_days, s.s_stat,
      |  CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie_term AS BIGINT) AS var18
      |FROM ties t JOIN s USING (key)""".stripMargin,
  ) { (s, d) =>
    graft.ops.Timeseries.mannKendallDaily(events(s, d), "event_type", "ts")
  }

  /** Kaplan–Meier time-to-purchase curve with administrative
    * censoring at a 30-day horizon
    * ([[graft.ops.Survival.kaplanMeier]]): per user, duration = days
    * from first event to first purchase, observed iff it lands within
    * the horizon (otherwise censored at 30 — the standard fixed-window
    * study design, which guarantees both classes exist). The oracle
    * replays the duration build, the descending at-risk cumulative,
    * and the scaled product recursion as a recursive CTE — exact on
    * the whole curve. */
  private val kaplanMeierQ = Q(
    "evt_kaplan_meier",
    """WITH RECURSIVE
      |u AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e JOIN u ON u.user_id = e.user_id
      |      WHERE e.event_type = 'purchase' GROUP BY 1),
      |subj AS (
      |  SELECT u.user_id,
      |    CASE WHEN p.tp IS NOT NULL
      |           AND date_diff('day', u.t0, p.tp) <= 30
      |         THEN date_diff('day', u.t0, p.tp) ELSE 30 END AS dur,
      |    (p.tp IS NOT NULL AND date_diff('day', u.t0, p.tp) <= 30) AS obs
      |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
      |hist AS (SELECT dur AS t, count(*) AS n_at,
      |           CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d
      |         FROM subj GROUP BY 1),
      |risk AS (SELECT t, d,
      |           sum(n_at) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND CURRENT ROW) AS n_risk
      |         FROM hist),
      |ev AS (SELECT t, d, n_risk, row_number() OVER (ORDER BY t) AS rn
      |       FROM risk WHERE d > 0),
      |rec AS (
      |  SELECT rn, t, n_risk, d,
      |    CAST(CAST(1000000 AS HUGEINT) * (n_risk - d) // n_risk AS BIGINT) AS s
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.rn, e.t, e.n_risk, e.d,
      |    CAST(CAST(r.s AS HUGEINT) * (e.n_risk - e.d) // e.n_risk AS BIGINT)
      |  FROM rec r JOIN ev e ON e.rn = r.rn + 1)
      |SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS d_events, s AS surv_ppm
      |FROM rec""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    val u  = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val p = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("tp"))
    val subj = u
      .join(p, Seq("user_id"), "left")
      .select(
        col("user_id"),
        when(col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30,
          datediff(col("tp"), col("t0")).cast("long")).otherwise(lit(30L)).as("dur"),
        (col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30).as("obs"),
      )
    graft.ops.Survival.kaplanMeier(subj, col("dur"), col("obs"))
  }

  /** GROUPED Kaplan–Meier ([[graft.ops.Survival.kaplanMeierBy]]): one
    * independent time-to-purchase curve per signup-month cohort — the
    * cohort-comparison form of evt_kaplan_meier, same 30-day
    * administrative censoring; the oracle's recursion walks each
    * cohort's own event-time sequence. */
  private val kaplanMeierByQ = Q(
    "evt_kaplan_meier_by",
    """WITH RECURSIVE
      |u AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e WHERE e.event_type = 'purchase' GROUP BY 1),
      |subj AS (
      |  SELECT CAST(month(u.t0) AS BIGINT) AS key,
      |    CASE WHEN p.tp IS NOT NULL
      |           AND date_diff('day', u.t0, p.tp) <= 30
      |         THEN date_diff('day', u.t0, p.tp) ELSE 30 END AS dur,
      |    (p.tp IS NOT NULL AND date_diff('day', u.t0, p.tp) <= 30) AS obs
      |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
      |hist AS (SELECT key, dur AS t, count(*) AS n_at,
      |           CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d
      |         FROM subj GROUP BY 1, 2),
      |risk AS (SELECT key, t, d,
      |           sum(n_at) OVER (PARTITION BY key ORDER BY t DESC
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |         FROM hist),
      |ev AS (SELECT key, t, d, n_risk,
      |         row_number() OVER (PARTITION BY key ORDER BY t) AS rn
      |       FROM risk WHERE d > 0),
      |rec AS (
      |  SELECT key, rn, t, n_risk, d,
      |    CAST(CAST(1000000 AS HUGEINT) * (n_risk - d) // n_risk AS BIGINT) AS s
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.key, e.rn, e.t, e.n_risk, e.d,
      |    CAST(CAST(r.s AS HUGEINT) * (e.n_risk - e.d) // e.n_risk AS BIGINT)
      |  FROM rec r JOIN ev e ON e.key = r.key AND e.rn = r.rn + 1)
      |SELECT key, CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS d_events, s AS surv_ppm
      |FROM rec""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    val u  = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val p = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("tp"))
    val subj = u
      .join(p, Seq("user_id"), "left")
      .select(
        month(col("t0")).cast("long").as("cohort"),
        when(col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30,
          datediff(col("tp"), col("t0")).cast("long")).otherwise(lit(30L)).as("dur"),
        (col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30).as("obs"),
      )
    graft.ops.Survival.kaplanMeierBy(subj, col("cohort"), col("dur"), col("obs"))
  }

  /** Nelson–Aalen cumulative hazard
    * ([[graft.ops.Survival.nelsonAalen]]) over the SAME subjects as
    * `evt_kaplan_meier` (time-to-first-purchase, 30-day administrative
    * censoring): Ĥ(t) = Σ ⌊dᵢ·10⁶/nᵢ⌋ — the additive estimator needs
    * no recursion at all, so the oracle is the shared subject CTEs
    * plus two plain windowed cumulatives. Exact equality on steps and
    * the cumulative curve. */
  private val nelsonAalenQ = Q(
    "evt_nelson_aalen",
    """WITH
      |u AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e WHERE e.event_type = 'purchase' GROUP BY 1),
      |subj AS (
      |  SELECT u.user_id,
      |    CASE WHEN p.tp IS NOT NULL
      |           AND date_diff('day', u.t0, p.tp) <= 30
      |         THEN date_diff('day', u.t0, p.tp) ELSE 30 END AS dur,
      |    (p.tp IS NOT NULL AND date_diff('day', u.t0, p.tp) <= 30) AS obs
      |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
      |hist AS (SELECT dur AS t, count(*) AS n_at,
      |           CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d
      |         FROM subj GROUP BY 1),
      |risk AS (SELECT t, d,
      |           sum(n_at) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND CURRENT ROW) AS n_risk
      |         FROM hist),
      |steps AS (SELECT t, n_risk, d,
      |            CAST(CAST(d AS HUGEINT) * 1000000 // n_risk AS BIGINT) AS haz
      |          FROM risk WHERE d > 0)
      |SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS d_events, haz AS haz_step_ppm,
      |  CAST(sum(haz) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
      |       AND CURRENT ROW) AS BIGINT) AS cumhaz_ppm
      |FROM steps""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    val u  = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val p = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("tp"))
    val subj = u
      .join(p, Seq("user_id"), "left")
      .select(
        col("user_id"),
        when(col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30,
          datediff(col("tp"), col("t0")).cast("long")).otherwise(lit(30L)).as("dur"),
        (col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30).as("obs"),
      )
    graft.ops.Survival.nelsonAalen(subj, col("dur"), col("obs"))
  }

  /** Restricted mean survival time ([[graft.ops.Survival.rmst]], τ =
    * 30 days) over the Kaplan–Meier subjects: the area under the step
    * curve — "average purchase-free days in the first month" — as
    * exact surv_ppm × interval products over the bounded step table.
    * Oracle: the KM recursive CTE extended with the identical
    * piecewise rollup. */
  private val rmstQ = Q(
    "evt_rmst",
    """WITH RECURSIVE
      |u AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e WHERE e.event_type = 'purchase' GROUP BY 1),
      |subj AS (
      |  SELECT u.user_id,
      |    CASE WHEN p.tp IS NOT NULL
      |           AND date_diff('day', u.t0, p.tp) <= 30
      |         THEN date_diff('day', u.t0, p.tp) ELSE 30 END AS dur,
      |    (p.tp IS NOT NULL AND date_diff('day', u.t0, p.tp) <= 30) AS obs
      |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
      |hist AS (SELECT dur AS t, count(*) AS n_at,
      |           CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d
      |         FROM subj GROUP BY 1),
      |risk AS (SELECT t, d,
      |           sum(n_at) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND CURRENT ROW) AS n_risk
      |         FROM hist),
      |ev AS (SELECT t, d, n_risk, row_number() OVER (ORDER BY t) AS rn
      |       FROM risk WHERE d > 0),
      |rec AS (
      |  SELECT rn, t, n_risk, d,
      |    CAST(CAST(1000000 AS HUGEINT) * (n_risk - d) // n_risk AS BIGINT) AS s
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.rn, e.t, e.n_risk, e.d,
      |    CAST(CAST(r.s AS HUGEINT) * (e.n_risk - e.d) // e.n_risk AS BIGINT)
      |  FROM rec r JOIN ev e ON e.rn = r.rn + 1),
      |curve AS (SELECT t, s FROM rec UNION ALL SELECT 0, 1000000),
      |dedup AS (SELECT t, min(s) AS s FROM curve GROUP BY 1),
      |seg AS (SELECT t, s,
      |          least(coalesce(lead(t) OVER (ORDER BY t), 30), 30) AS nxt
      |        FROM dedup WHERE t < 30)
      |SELECT CAST(30 AS BIGINT) AS tau,
      |  CAST(count(*) AS BIGINT) AS n_segments,
      |  CAST(sum(s * (nxt - t)) AS BIGINT) AS rmst_ppm
      |FROM seg""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    val u  = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val subj = u
      .join(
        ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("tp")),
        Seq("user_id"),
        "left",
      )
      .select(
        col("user_id"),
        when(col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30,
          datediff(col("tp"), col("t0")).cast("long")).otherwise(lit(30L)).as("dur"),
        (col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30).as("obs"),
      )
    graft.ops.Survival.rmst(subj, col("dur"), col("obs"), tau = 30L)
  }

  /** Two-sample log-rank test ([[graft.ops.Survival.logRank]]) between
    * the even- and odd-user cohorts on the same time-to-purchase
    * subjects as the Kaplan–Meier gates: the χ²₁ statistic a survival
    * A/B comparison ships. Every accumulation is a ×10⁶ floored
    * rational replayed by the oracle in HUGEINT — exact equality on
    * O, E, O−E, V and the composed statistic. */
  private val logRankQ = Q(
    "evt_logrank",
    """WITH
      |u AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e WHERE e.event_type = 'purchase' GROUP BY 1),
      |subj AS (
      |  SELECT (u.user_id % 2 = 1) AS g,
      |    CASE WHEN p.tp IS NOT NULL
      |           AND date_diff('day', u.t0, p.tp) <= 30
      |         THEN date_diff('day', u.t0, p.tp) ELSE 30 END AS dur,
      |    (p.tp IS NOT NULL AND date_diff('day', u.t0, p.tp) <= 30) AS obs
      |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
      |hist AS (SELECT dur AS t, count(*) AS n_at,
      |           CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1_at,
      |           CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |           CAST(sum(CASE WHEN obs AND g THEN 1 ELSE 0 END) AS BIGINT) AS d1
      |         FROM subj GROUP BY 1),
      |risk AS (SELECT t, d, d1,
      |           sum(n_at) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND CURRENT ROW) AS n,
      |           sum(n1_at) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                            AND CURRENT ROW) AS n1
      |         FROM hist),
      |steps AS (
      |  SELECT d, d1,
      |    CAST(CAST(d AS HUGEINT) * n1 * 1000000 // n AS BIGINT) AS e1,
      |    CASE WHEN n > 1
      |      THEN CAST(CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d) * 1000000
      |                // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
      |      ELSE 0 END AS v
      |  FROM risk WHERE d > 0),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_steps,
      |    CAST(sum(d1) AS BIGINT) AS o1_events,
      |    CAST(sum(e1) AS BIGINT) AS e1_ppm,
      |    CAST(sum(d1 * 1000000 - e1) AS BIGINT) AS o_minus_e_ppm,
      |    CAST(sum(v) AS BIGINT) AS var_ppm
      |  FROM steps)
      |SELECT n_steps, o1_events, e1_ppm, o_minus_e_ppm, var_ppm,
      |  CASE WHEN var_ppm > 0
      |    THEN CAST(CAST(o_minus_e_ppm AS HUGEINT) * o_minus_e_ppm // var_ppm AS BIGINT)
      |    ELSE 0 END AS chi2_ppm
      |FROM agg""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    val u  = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val subj = u
      .join(
        ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("tp")),
        Seq("user_id"),
        "left",
      )
      .select(
        (col("user_id") % 2 === 1).as("g"),
        when(col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30,
          datediff(col("tp"), col("t0")).cast("long")).otherwise(lit(30L)).as("dur"),
        (col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30).as("obs"),
      )
    graft.ops.Survival.logRank(subj, col("g"), col("dur"), col("obs"))
  }

  /** Stratified (Mantel–Haenszel) log-rank
    * ([[graft.ops.Survival.logRankStratified]]): the parity-cohort
    * comparison ADJUSTED for signup month — O−E and V accumulate
    * within each month's own risk sets, so a seasonal baseline shift
    * cannot manufacture or mask the group difference. Oracle: the
    * same per-stratum hypergeometric arithmetic with the stratum in
    * every partition key, exact on all composed fields. */
  private val logRankStratQ = Q(
    "evt_logrank_strat",
    """WITH
      |u AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e WHERE e.event_type = 'purchase' GROUP BY 1),
      |subj AS (
      |  SELECT CAST(month(u.t0) AS BIGINT) AS st, (u.user_id % 2 = 1) AS g,
      |    CASE WHEN p.tp IS NOT NULL
      |           AND date_diff('day', u.t0, p.tp) <= 30
      |         THEN date_diff('day', u.t0, p.tp) ELSE 30 END AS dur,
      |    (p.tp IS NOT NULL AND date_diff('day', u.t0, p.tp) <= 30) AS obs
      |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
      |hist AS (SELECT st, dur AS t, count(*) AS n_at,
      |           CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1_at,
      |           CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |           CAST(sum(CASE WHEN obs AND g THEN 1 ELSE 0 END) AS BIGINT) AS d1
      |         FROM subj GROUP BY 1, 2),
      |risk AS (SELECT st, t, d, d1,
      |           sum(n_at) OVER (PARTITION BY st ORDER BY t DESC
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
      |           sum(n1_at) OVER (PARTITION BY st ORDER BY t DESC
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
      |         FROM hist),
      |steps AS (
      |  SELECT st, d, d1,
      |    CAST(CAST(d AS HUGEINT) * n1 * 1000000 // n AS BIGINT) AS e1,
      |    CASE WHEN n > 1
      |      THEN CAST(CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d) * 1000000
      |                // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
      |      ELSE 0 END AS v
      |  FROM risk WHERE d > 0),
      |agg AS (
      |  SELECT CAST(count(DISTINCT st) AS BIGINT) AS n_strata,
      |    CAST(count(*) AS BIGINT) AS n_steps,
      |    CAST(sum(d1) AS BIGINT) AS o1_events,
      |    CAST(sum(e1) AS BIGINT) AS e1_ppm,
      |    CAST(sum(d1 * 1000000 - e1) AS BIGINT) AS o_minus_e_ppm,
      |    CAST(sum(v) AS BIGINT) AS var_ppm
      |  FROM steps)
      |SELECT n_strata, n_steps, o1_events, e1_ppm, o_minus_e_ppm, var_ppm,
      |  CASE WHEN var_ppm > 0
      |    THEN CAST(CAST(o_minus_e_ppm AS HUGEINT) * o_minus_e_ppm // var_ppm AS BIGINT)
      |    ELSE 0 END AS chi2_ppm
      |FROM agg""".stripMargin,
  ) { (s, d) =>
    val ev = events(s, d)
    val u  = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val subj = u
      .join(
        ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("tp")),
        Seq("user_id"),
        "left",
      )
      .select(
        month(col("t0")).cast("long").as("st"),
        (col("user_id") % 2 === 1).as("g"),
        when(col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30,
          datediff(col("tp"), col("t0")).cast("long")).otherwise(lit(30L)).as("dur"),
        (col("tp").isNotNull && datediff(col("tp"), col("t0")) <= 30).as("obs"),
      )
    graft.ops.Survival
      .logRankStratified(subj, col("st"), col("g"), col("dur"), col("obs"))
  }

  /** Kleinberg 2-state burst detection over per-user inter-arrival
    * gaps ([[graft.ops.Burst.kleinberg2]]): the exact-integer Viterbi
    * — per-gap state-cost difference (n·g·10⁶ div T) − ⌊10⁶·ln 2⌋,
    * transition cost γ·⌊log₂ n⌋·⌊10⁶·ln 2⌋ — replayed by the oracle
    * as a forward recursive CTE carrying both state costs plus the
    * recorded back-pointers, then a backward recursive CTE walking
    * them from the cheaper final state. Exact equality on gaps, costs,
    * AND the optimal burst labeling. */
  /** The Kleinberg label pipeline as a CTE block, shared verbatim by
    * the detect gate and the summary gate's oracle so the two can only
    * drift visibly (the [[cusumSql]] convention). Mirrors the engine's
    * per-key event cap (`seqc` keeps each key's first
    * [[graft.ops.Burst.defaultMaxEventsPerKey]] events in (ts, tie)
    * order, the capped count drives the >= 3 filter and α₀) so an
    * over-cap key truncates IDENTICALLY in both engines instead of
    * failing the differential. */
  private[queries] val burstLabelCtes: String =
    s"""WITH RECURSIVE
       |seq AS (SELECT user_id AS key, ts,
       |          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |          count(*) OVER (PARTITION BY user_id) AS cnt
       |        FROM events),
       |seqc AS (SELECT key, ts, rn, least(cnt, ${graft.ops.Burst.defaultMaxEventsPerKey}) AS cnt
       |         FROM seq WHERE rn <= ${graft.ops.Burst.defaultMaxEventsPerKey}),
       |g AS (SELECT a.key, CAST(a.rn AS BIGINT) AS pos, epoch_us(b.ts) - epoch_us(a.ts) AS gap
       |      FROM seqc a JOIN seqc b ON b.key = a.key AND b.rn = a.rn + 1
       |      WHERE a.cnt >= 3),
       |par AS (SELECT key, count(*) AS n, sum(gap) AS tt,
       |          (length(bin(CAST(count(*) AS BIGINT))) - 1) * ${graft.ops.Burst.ln2Ppm} AS tau
       |        FROM g GROUP BY 1 HAVING sum(gap) > 0),
       |es AS (SELECT g.key, g.pos, g.gap, p.tau,
       |         CAST((CAST(p.n AS HUGEINT) * g.gap * 1000000) // p.tt
       |              - ${graft.ops.Burst.ln2Ppm} AS BIGINT) AS e
       |       FROM g JOIN par p USING (key)),
       |fwd AS (
       |  SELECT key, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS c0,
       |         CAST(${graft.ops.Burst.inf} AS BIGINT) AS c1, TRUE AS f0, TRUE AS f1
       |  FROM par
       |  UNION ALL
       |  SELECT e.key, e.pos, least(f.c0, f.c1),
       |         least(f.c0 + e.tau, f.c1) + e.e,
       |         f.c0 <= f.c1, f.c0 + e.tau < f.c1
       |  FROM fwd f JOIN es e ON e.key = f.key AND e.pos = f.pos + 1),
       |bwd AS (
       |  SELECT f.key, p.n AS pos, CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END AS st
       |  FROM fwd f JOIN par p ON p.key = f.key AND f.pos = p.n
       |  UNION ALL
       |  SELECT b.key, b.pos - 1,
       |         CASE WHEN b.st = 0 THEN (CASE WHEN f.f0 THEN 0 ELSE 1 END)
       |              ELSE (CASE WHEN f.f1 THEN 0 ELSE 1 END) END
       |  FROM bwd b JOIN fwd f ON f.key = b.key AND f.pos = b.pos
       |  WHERE b.pos >= 2)""".stripMargin

  private val burstDetectQ = Q(
    "evt_burst_detect",
    s"""$burstLabelCtes
       |SELECT e.key, e.pos, e.gap AS gap_us, e.e AS e_ppm, b.st = 1 AS burst
       |FROM es e JOIN bwd b ON b.key = e.key AND b.pos = e.pos""".stripMargin,
  ) { (s, d) =>
    graft.ops.Burst.kleinberg2(events(s, d), "user_id", "ts", "event_id")
  }

  /** The consumer shape over [[burstDetectQ]]'s labels — per key:
    * number of maximal burst runs, the longest run (in gaps), and the
    * burst-mass share (burst-gap time over total gap time, ppm,
    * DECIMAL(38) product so a corpus-wide span can't overflow the ×10⁶
    * scaling). Keys whose optimal labeling never bursts still report
    * (0, 0, 0) — the absence row is the signal a triage list needs.
    * Runs via the gaps-and-islands identity (pos − running burst
    * count is constant exactly on a maximal burst run); the per-key
    * window is bounded by [[graft.ops.Burst.kleinberg2]]'s event cap.
    * Oracle: the shared label CTEs plus the same islands aggregation
    * in DuckDB — exact on all three statistics. */
  private val burstSummaryQ = Q(
    "evt_burst_summary",
    s"""$burstLabelCtes,
       |lab AS (SELECT e.key, e.pos, e.gap, b.st = 1 AS burst
       |        FROM es e JOIN bwd b ON b.key = e.key AND b.pos = e.pos),
       |isl AS (SELECT key, pos, gap, burst,
       |          pos - sum(CASE WHEN burst THEN 1 ELSE 0 END)
       |                  OVER (PARTITION BY key ORDER BY pos) AS grp
       |        FROM lab),
       |runs AS (SELECT key, grp, count(*) AS len, sum(gap) AS mass
       |         FROM isl WHERE burst GROUP BY 1, 2),
       |perkey AS (SELECT key, count(*) AS n_bursts, max(len) AS longest_run,
       |             sum(mass) AS burst_mass
       |           FROM runs GROUP BY 1),
       |tot AS (SELECT key, sum(gap) AS t_mass FROM lab GROUP BY 1)
       |SELECT t.key, coalesce(p.n_bursts, 0) AS n_bursts,
       |       CAST(coalesce(p.longest_run, 0) AS BIGINT) AS longest_run,
       |       CAST(coalesce(p.burst_mass, 0) * 1000000 // t.t_mass AS BIGINT) AS burst_share_ppm
       |FROM tot t LEFT JOIN perkey p USING (key)""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val labels = graft.ops.Burst.kleinberg2(events(s, d), "user_id", "ts", "event_id")
    val wRun = Window
      .partitionBy("key")
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one pass over the labels (no self-join on the Viterbi pipeline):
    // non-burst gaps land in a NULL run id, so a single (key, run)
    // rollup carries both the per-run stats and the total gap mass
    val isl = labels.withColumn(
      "__grp",
      when(col("burst"), col("pos") - sum(when(col("burst"), 1L).otherwise(0L)).over(wRun)),
    )
    isl
      .groupBy("key", "__grp")
      .agg(count(lit(1)).as("__len"), sum("gap_us").as("__mass"))
      .groupBy("key")
      .agg(
        sum(when(col("__grp").isNotNull, 1L).otherwise(0L)).as("n_bursts"),
        coalesce(max(when(col("__grp").isNotNull, col("__len"))), lit(0L)).as("longest_run"),
        sum(when(col("__grp").isNotNull, col("__mass")).otherwise(0L)).as("__burst_mass"),
        sum(col("__mass")).as("__t_mass"),
      )
      .select(
        col("key"),
        col("n_bursts"),
        col("longest_run"),
        expr(
          "CAST(CAST(__burst_mass AS DECIMAL(38,0)) * 1000000 div __t_mass AS BIGINT)"
        ).as("burst_share_ppm"),
      )
  }

  /** Banded DTW distance between every pair of event types' dense
    * daily activity series ([[graft.functions.DtwExpr]], Sakoe–Chiba
    * radius 7 on 30-day grids — the band genuinely prunes): which
    * activity curves share a shape under local time warping, the
    * numeric-series member of the edit-distance family. Exact-integer
    * |Δ| costs, so the oracle replays the IDENTICAL banded DP as a
    * cell-sequential recursive CTE carrying a sliding (m+2)-cell
    * buffer (left = buf[m+2], up = buf[2], diag = buf[1]; out-of-band
    * and boundary cells pinned to the same Long.MaxValue/4 sentinel) —
    * exact on all pairs. Series are span-bounded (one month of days);
    * the pair join is 5×5 type rows. */
  /** The banded-DTW pair pipeline as a CTE block (daily series → pair
    * join → cell-sequential DP recursion), shared verbatim by the
    * pairs gate and the medoid gate's oracle (the burstLabelCtes
    * convention). The terminal rows are `rec WHERE t = (n+1)*(m+1)-1`
    * with the distance in `buf[m+2]`. */
  private[queries] val dtwPairCtes: String = {
    val inf = Long.MaxValue / 4
    s"""WITH RECURSIVE
         |daily AS (SELECT event_type AS t,
         |            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day, count(*) AS n
         |          FROM events GROUP BY 1, 2),
         |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |grid AS (SELECT tt.t, s.day
         |         FROM (SELECT DISTINCT t FROM daily) tt
         |         CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day FROM span) s),
         |dense AS (SELECT g.t, g.day, coalesce(d.n, 0) AS n
         |          FROM grid g LEFT JOIN daily d ON d.t = g.t AND d.day = g.day),
         |ser AS (SELECT t, list(n ORDER BY day) AS arr FROM dense GROUP BY 1),
         |pairs AS (SELECT a.t AS ta, b.t AS tb, a.arr AS aa, b.arr AS bb,
         |            len(a.arr) AS n, len(b.arr) AS m
         |          FROM ser a JOIN ser b ON a.t < b.t),
         |rec AS (
         |  SELECT ta, tb, aa, bb, n, m, -1 AS t,
         |         list_transform(range(m + 2), x -> CAST($inf AS BIGINT)) AS buf
         |  FROM pairs
         |  UNION ALL
         |  SELECT ta, tb, aa, bb, n, m, t + 1,
         |    list_append(buf[2:],
         |      CASE WHEN (t+1) // (m+1) = 0 AND (t+1) % (m+1) = 0 THEN 0
         |           WHEN (t+1) // (m+1) = 0 OR (t+1) % (m+1) = 0 THEN $inf
         |           WHEN abs((t+1) // (m+1) - (t+1) % (m+1)) > greatest(7, abs(n - m))
         |             THEN $inf
         |           ELSE abs(aa[(t+1) // (m+1)] - bb[(t+1) % (m+1)])
         |                + least(buf[m+2], buf[2], buf[1])
         |      END)
         |  FROM rec WHERE t + 1 < (n + 1) * (m + 1))""".stripMargin
  }

  /** The dense daily-series table (t, arr) behind the DTW family —
    * per-type counts on the shared month grid, zeros filled. FROZEN
    * per (session, corpus): the |types|-row table feeds the pair DP,
    * the medoid argmin AND the barycenter alignment, and its one
    * events scan + daily aggregation is the only corpus-proportional
    * work in the family — it must not repeat per consumer (birth
    * slope of the barycenter gate dropped from 2.9× to the scan's own
    * slope once shared). */
  private val dtwSeriesDf = Shared("dtw_series")((s, d) => dtwSeriesBuild(s, d).localCheckpoint())

  private def dtwSeriesBuild(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame = {
    val daily = events(s, d)
      .groupBy(
        col("event_type").as("t"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
      )
      .agg(count(lit(1)).as("n"))
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    daily
      .groupBy("t")
      .agg(map_from_entries(collect_list(struct(col("day"), col("n")))).as("m"))
      .crossJoin(broadcast(span))
      .select(
        col("t"),
        expr("transform(sequence(d0, d1), dd -> coalesce(element_at(m, dd), 0L))").as("arr"),
      )
  }

  /** The Spark side of the DTW pair pipeline, shared by the pairs gate
    * and the medoid gate: (type_a, type_b, dtw) for all a < b type
    * pairs over dense daily series, band 7. */
  private def dtwPairsDf(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame = {
    val series = dtwSeriesDf(s, d)
    series
      .select(col("t").as("type_a"), col("arr").as("__a"))
      .join(
        series.select(col("t").as("type_b"), col("arr").as("__b")),
        col("type_a") < col("type_b"),
      )
      .select(
        col("type_a"),
        col("type_b"),
        graft.functions.DtwExpr.dtw_distance(col("__a"), col("__b"), lit(7)).as("dtw"),
      )
  }

  /** The FROZEN pair table (type-count² rows), shared by the medoid
    * and barycenter gates — both re-read it several times, and the
    * underlying series/DP pipeline should run once per (session,
    * corpus), not once per consumer (the sharedTradeRows contract). */
  private val dtwPairsCheckpointed =
    Shared("dtw_pairs")((s, d) => dtwPairsDf(s, d).localCheckpoint())

  /** The DTW family's shared tables as the prewarm builds them: series,
    * then pairs, under one timing. */
  private val dtwSeriesPairs =
    Shared("dtw_series_pairs", Set("evt_dtw_pairs", "evt_dtw_medoid", "evt_dtw_barycenter")) {
      (s, d) => (dtwSeriesDf(s, d), dtwPairsCheckpointed(s, d))
    }

  private val dtwPairsQ = Q(
    "evt_dtw_pairs",
    s"""$dtwPairCtes
       |SELECT ta AS type_a, tb AS type_b, CAST(buf[m+2] AS BIGINT) AS dtw
       |FROM rec WHERE t = (n + 1) * (m + 1) - 1""".stripMargin,
  )(dtwPairsCheckpointed(_, _))

  /** DTW MEDOID — the series that best represents the set: the type
    * minimizing its summed banded-DTW distance to every other type
    * (type-name tiebreak), computed over [[dtwPairsDf]]'s a < b table
    * symmetrized — the canonical-shape selection step a curve-
    * clustering or template-matching pipeline runs after the pairwise
    * distances. Oracle: the shared DTW CTEs + the same symmetrize /
    * argmin aggregation. */
  private val dtwMedoidQ = Q(
    "evt_dtw_medoid",
    s"""$dtwPairCtes,
       |d AS (SELECT ta AS typ, buf[m+2] AS dd FROM rec WHERE t = (n + 1) * (m + 1) - 1
       |      UNION ALL
       |      SELECT tb AS typ, buf[m+2] AS dd FROM rec WHERE t = (n + 1) * (m + 1) - 1),
       |agg AS (SELECT typ AS medoid, CAST(sum(dd) AS BIGINT) AS total_dtw FROM d GROUP BY 1)
       |SELECT medoid, total_dtw FROM agg ORDER BY total_dtw, medoid LIMIT 1""".stripMargin,
  ) { (s, d) =>
    // the symmetrizing union consumes the pair table TWICE — the
    // frozen shared table ([[dtwPairsCheckpointed]]) runs the
    // series/DP pipeline once, not once per union branch or consumer
    val pairs = dtwPairsCheckpointed(s, d)
    pairs
      .select(col("type_a").as("medoid"), col("dtw"))
      .unionByName(pairs.select(col("type_b").as("medoid"), col("dtw")))
      .groupBy("medoid")
      .agg(sum("dtw").as("total_dtw"))
      .orderBy(col("total_dtw"), col("medoid"))
      .limit(1)
  }

  /** One DTW-BARYCENTER-AVERAGING update (Petitjean et al. 2011) over
    * the medoid's cluster — the step after [[dtwMedoidQ]] a template-
    * matching pipeline actually ships: initialize the barycenter at
    * the medoid's series and, for every member (all types, the medoid
    * aligning to itself along the diagonal), align member → barycenter
    * with [[graft.functions.DtwPathExpr]] and average the values that
    * landed on each barycenter coordinate. Exact integers: per-
    * coordinate count + sum, mean emitted ×10⁶ floored. The alignment
    * tie order (diag → up → left) is part of the operator contract and
    * the oracle's backtrack CASE replays it cell for cell over the
    * full DP matrix (the sliding buffer can compute distances but not
    * paths). Bounded by construction: member count = |event types|,
    * path length ≤ n+m on month grids. */
  private val dtwBarycenterQ = Q(
    "evt_dtw_barycenter", {
      val inf = Long.MaxValue / 4
      s"""$dtwPairCtes,
         |dsym AS (SELECT ta AS typ, buf[m+2] AS dd FROM rec WHERE t = (n + 1) * (m + 1) - 1
         |         UNION ALL
         |         SELECT tb, buf[m+2] FROM rec WHERE t = (n + 1) * (m + 1) - 1),
         |med AS (SELECT typ AS mt FROM (SELECT typ, sum(dd) AS td FROM dsym GROUP BY 1)
         |        ORDER BY td, typ LIMIT 1),
         |mem AS (SELECT s2.t AS typ, ms.arr AS ma, s2.arr AS arr,
         |          len(ms.arr) AS nn, len(s2.arr) AS mm
         |        FROM med JOIN ser ms ON ms.t = med.mt CROSS JOIN ser s2),
         |dp AS (
         |  SELECT typ, ma, arr, nn, mm, -1 AS c, CAST([] AS BIGINT[]) AS buf
         |  FROM mem
         |  UNION ALL
         |  SELECT typ, ma, arr, nn, mm, c + 1,
         |    list_append(buf, CASE
         |      WHEN c + 1 = 0 THEN 0
         |      WHEN (c+1) // (mm+1) = 0 OR (c+1) % (mm+1) = 0 THEN $inf
         |      WHEN abs((c+1) // (mm+1) - (c+1) % (mm+1)) > greatest(7, abs(nn - mm))
         |        THEN $inf
         |      ELSE abs(ma[(c+1) // (mm+1)] - arr[(c+1) % (mm+1)])
         |           + least(buf[c - mm], buf[c + 1 - mm], buf[c + 1])
         |    END)
         |  FROM dp WHERE c + 1 < (nn + 1) * (mm + 1)),
         |bt AS (
         |  SELECT typ, arr, mm, buf, nn AS ci, mm AS cj,
         |    [struct_pack(i := nn, j := mm)] AS path
         |  FROM dp WHERE c = (nn + 1) * (mm + 1) - 1
         |  UNION ALL
         |  SELECT typ, arr, mm, buf,
         |    CASE WHEN dg <= up AND dg <= lf THEN ci - 1 WHEN up <= lf THEN ci - 1 ELSE ci END,
         |    CASE WHEN dg <= up AND dg <= lf THEN cj - 1 WHEN up <= lf THEN cj ELSE cj - 1 END,
         |    list_prepend(struct_pack(
         |      i := CASE WHEN dg <= up AND dg <= lf THEN ci - 1
         |                WHEN up <= lf THEN ci - 1 ELSE ci END,
         |      j := CASE WHEN dg <= up AND dg <= lf THEN cj - 1
         |                WHEN up <= lf THEN cj ELSE cj - 1 END), path)
         |  FROM (
         |    SELECT typ, arr, mm, buf, ci, cj, path,
         |      buf[(ci-1)*(mm+1) + cj] AS dg,
         |      buf[(ci-1)*(mm+1) + cj + 1] AS up,
         |      buf[ci*(mm+1) + cj] AS lf
         |    FROM bt WHERE ci > 1 OR cj > 1)),
         |fin AS (SELECT typ, arr, path FROM bt WHERE ci = 1 AND cj = 1),
         |al AS (SELECT arr, unnest(path) AS st FROM fin)
         |SELECT CAST(st.i AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n_aligned,
         |  CAST(sum(arr[st.j]) AS BIGINT) AS sum_n,
         |  CAST(sum(CAST(arr[st.j] AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS bary_ppm
         |FROM al GROUP BY 1""".stripMargin
    },
  ) { (s, d) =>
    val pairs = dtwPairsCheckpointed(s, d)
    val medoid = pairs
      .select(col("type_a").as("t"), col("dtw"))
      .unionByName(pairs.select(col("type_b").as("t"), col("dtw")))
      .groupBy("t")
      .agg(sum("dtw").as("total_dtw"))
      .orderBy(col("total_dtw"), col("t"))
      .limit(1)
      .select(col("t").as("__mt"))
    // the (|types|-row) series table is already frozen and shared
    // with the pair/medoid pipeline ([[dtwSeriesDf]])
    val series = dtwSeriesDf(s, d)
    val medArr = series.join(broadcast(medoid), col("t") === col("__mt"))
      .select(col("arr").as("__ma"))
    series
      .crossJoin(broadcast(medArr))
      .select(
        col("arr"),
        explode(graft.functions.DtwPathExpr.dtw_path(col("__ma"), col("arr"), lit(7)))
          .as("st"),
      )
      .select(col("st.i").cast("long").as("pos"), expr("element_at(arr, st.j)").as("v"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_aligned"), sum("v").as("sum_n"))
      .withColumn(
        "bary_ppm",
        expr("CAST(CAST(sum_n AS DECIMAL(38,0)) * 1000000 div n_aligned AS BIGINT)"),
      )
  }

  private val cusumChangepointQ = Q("evt_cusum_changepoint", cusumSql) { (s, d) =>
    Timeseries.cusumHourly(events(s, d), "event_type", "ts", slackNum = 5, slackDen = 4,
      thresholdMult = 2)
  }

  /** Hampel rolling-median outliers
    * ([[graft.ops.Timeseries.hampelHourly]], ±2-hour window, t = 3):
    * the ROBUST member of the hourly anomaly family next to
    * CUSUM/EWMA/seasonal — the detector an hourly spike cannot blind
    * by inflating its own threshold. All-integer doubled medians (no
    * float interpolation), so the oracle replays the identical sorted-
    * window arithmetic over the same dense grid — exact on every
    * (key, hour) row. */
  private[queries] val hampelSql: String =
    """WITH counts AS (
      |  SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |grid AS (
      |  SELECT k.key, h.g AS hour_ts, coalesce(c.n, 0) AS n
      |  FROM (SELECT DISTINCT key FROM counts) k
      |  CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g FROM span) h
      |  LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.g),
      |win AS (
      |  SELECT key, hour_ts, n,
      |    list_sort(list(n) OVER (PARTITION BY key ORDER BY hour_ts
      |                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS w
      |  FROM grid),
      |med AS (
      |  SELECT key, hour_ts, n, w,
      |    CASE WHEN len(w) % 2 = 1 THEN 2 * w[(len(w) + 1) // 2]
      |         ELSE w[len(w) // 2] + w[len(w) // 2 + 1] END AS med2
      |  FROM win),
      |dev AS (
      |  SELECT key, hour_ts, n, med2,
      |    list_sort(list_transform(w, x -> abs(2 * x - med2))) AS dv
      |  FROM med),
      |mad AS (
      |  SELECT key, hour_ts, n, med2,
      |    CASE WHEN len(dv) % 2 = 1 THEN 2 * dv[(len(dv) + 1) // 2]
      |         ELSE dv[len(dv) // 2] + dv[len(dv) // 2 + 1] END AS mad4
      |  FROM dev)
      |SELECT key, hour_ts, CAST(n AS BIGINT) AS n, CAST(med2 AS BIGINT) AS med2,
      |  CAST(mad4 AS BIGINT) AS mad4,
      |  CASE WHEN mad4 = 0 THEN abs(2 * n - med2) > 0
      |       ELSE 2 * abs(2 * n - med2) > 3 * mad4 END AS is_outlier
      |FROM mad""".stripMargin

  private val hampelQ = Q("evt_hampel_outliers", hampelSql) { (s, d) =>
    Timeseries.hampelHourly(events(s, d), "event_type", "ts", radius = 2, t = 3)
  }

  /** Integer-exact EWMA over per-type hourly rates
    * ([[graft.ops.Timeseries.ewmaHourly]], α = 0.3 in ppm): the
    * smoothing statistic under adaptive rate thresholds, bit-identical
    * across engines because every step is integer floor division (no
    * float exp drift). Shared oracle SQL with the streaming twin (the
    * [[cusumSql]] convention): the sequential recursion replayed as a
    * recursive CTE, exact equality on the full series. */
  private[queries] val ewmaSql: String =
    """WITH RECURSIVE
      |counts AS (SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |hours AS (SELECT g AS hour_ts, row_number() OVER (ORDER BY g) AS rn
      |          FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g FROM span)),
      |grid AS (SELECT k.key, h.hour_ts, h.rn, coalesce(c.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM counts) k
      |         CROSS JOIN hours h
      |         LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.hour_ts),
      |rec AS (
      |  SELECT key, rn, hour_ts, n, n * 1000000 AS s
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT g.key, g.rn, g.hour_ts, g.n,
      |         300000 * g.n + CAST((CAST(700000 AS HUGEINT) * r.s) // 1000000 AS BIGINT)
      |  FROM rec r JOIN grid g ON g.key = r.key AND g.rn = r.rn + 1)
      |SELECT key, hour_ts, n, CAST(s AS BIGINT) AS ewma_scaled FROM rec""".stripMargin

  private val ewmaHourlyQ = Q("evt_ewma_hourly", ewmaSql) { (s, d) =>
    Timeseries.ewmaHourly(events(s, d), "event_type", "ts", alphaPpm = 300000)
  }

  /** Holt linear-trend smoothing ([[graft.ops.Timeseries.holtHourly]],
    * α=0.3 β=0.125 in ppm): [[ewmaHourlyQ]] plus a trend state — level,
    * trend, and one-step forecast per grid hour, all scaled ×10⁶
    * integers. Trend goes NEGATIVE on declines, so both engines use
    * the pmod-floor division (plain integral div truncates toward
    * zero and would disagree with DuckDB's flooring `//` on every
    * negative step). The oracle replays the recursion as a recursive
    * CTE with LATERAL let-bindings for Lₜ and Bₜ's shared numerator. */
  private[queries] val holtSql: String =
    """WITH RECURSIVE
      |counts AS (SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |hours AS (SELECT g AS hour_ts, row_number() OVER (ORDER BY g) AS rn
      |          FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g FROM span)),
      |grid AS (SELECT k.key, h.hour_ts, h.rn, coalesce(c.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM counts) k
      |         CROSS JOIN hours h
      |         LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.hour_ts),
      |rec AS (
      |  SELECT key, rn, hour_ts, n, n * 1000000 AS l, CAST(0 AS BIGINT) AS b
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT g.key, g.rn, g.hour_ts, g.n, lt.l,
      |    CAST((w.w - ((w.w % 1000000 + 1000000) % 1000000)) // 1000000 AS BIGINT)
      |  FROM rec r
      |  JOIN grid g ON g.key = r.key AND g.rn = r.rn + 1,
      |  LATERAL (SELECT 300000 * g.n +
      |             CAST((v.v - ((v.v % 1000000 + 1000000) % 1000000)) // 1000000 AS BIGINT) AS l
      |           FROM (SELECT CAST(700000 AS HUGEINT) * (r.l + r.b) AS v) v) lt,
      |  LATERAL (SELECT CAST(125000 AS HUGEINT) * (lt.l - r.l) +
      |                  CAST(875000 AS HUGEINT) * r.b AS w) w)
      |SELECT key, hour_ts, n, CAST(l AS BIGINT) AS level_scaled, CAST(b AS BIGINT) AS trend_scaled,
      |  CAST(l + b AS BIGINT) AS forecast_scaled
      |FROM rec""".stripMargin

  private val holtHourlyQ = Q("evt_holt_trend", holtSql) { (s, d) =>
    Timeseries.holtHourly(events(s, d), "event_type", "ts", alphaPpm = 300000, betaPpm = 125000)
  }

  /** Shared oracle SQL for the batch and streaming Holt–Winters gates.
    * The recursion needs Sₜ₋₂₄, which a recursive CTE cannot reach by
    * row reference — so the recursion CARRIES its own seasonal memory:
    * `shist` is the list of the most recent ≤24 seasonal values
    * (oldest first; `shist[1]` is Sₜ₋₂₄ exactly when the list is
    * full, the same cold-start-zero contract as the Spark fold's
    * `element_at(acc, -24)`). LATERAL let-bindings keep each of the
    * sp/L/B/S formulas in one place, mirroring the nested-transform
    * bindings on the Spark side. */
  private[queries] val holtWintersSql: String =
    """WITH RECURSIVE
      |counts AS (SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |hours AS (SELECT g AS hour_ts, row_number() OVER (ORDER BY g) AS rn
      |          FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g FROM span)),
      |grid AS (SELECT k.key, h.hour_ts, h.rn, coalesce(c.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM counts) k
      |         CROSS JOIN hours h
      |         LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.hour_ts),
      |rec AS (
      |  SELECT key, rn, hour_ts, n, n * 1000000 AS l, CAST(0 AS BIGINT) AS b,
      |    CAST(0 AS BIGINT) AS s, [CAST(0 AS BIGINT)] AS shist
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT g.key, g.rn, g.hour_ts, g.n, lt.l, bb.b, ss.s,
      |    list_append(CASE WHEN len(r.shist) >= 24 THEN r.shist[2:] ELSE r.shist END, ss.s)
      |  FROM rec r
      |  JOIN grid g ON g.key = r.key AND g.rn = r.rn + 1,
      |  LATERAL (SELECT CASE WHEN len(r.shist) >= 24 THEN r.shist[1]
      |                       ELSE CAST(0 AS BIGINT) END AS sp) sp,
      |  LATERAL (SELECT CAST(300000 AS HUGEINT) * (g.n * 1000000 - sp.sp) +
      |                  CAST(700000 AS HUGEINT) * (r.l + r.b) AS v) vl,
      |  LATERAL (SELECT CAST((vl.v - ((vl.v % 1000000 + 1000000) % 1000000)) // 1000000
      |                       AS BIGINT) AS l) lt,
      |  LATERAL (SELECT CAST(125000 AS HUGEINT) * (lt.l - r.l) +
      |                  CAST(875000 AS HUGEINT) * r.b AS v) vb,
      |  LATERAL (SELECT CAST((vb.v - ((vb.v % 1000000 + 1000000) % 1000000)) // 1000000
      |                       AS BIGINT) AS b) bb,
      |  LATERAL (SELECT CAST(200000 AS HUGEINT) * (g.n * 1000000 - lt.l) +
      |                  CAST(800000 AS HUGEINT) * sp.sp AS v) vs,
      |  LATERAL (SELECT CAST((vs.v - ((vs.v % 1000000 + 1000000) % 1000000)) // 1000000
      |                       AS BIGINT) AS s) ss)
      |SELECT key, hour_ts, n, CAST(l AS BIGINT) AS level_scaled,
      |  CAST(b AS BIGINT) AS trend_scaled, CAST(s AS BIGINT) AS seasonal_scaled
      |FROM rec""".stripMargin

  /** Holt–Winters additive seasonal smoothing
    * ([[graft.ops.Timeseries.holtWintersHourly]]): the triple
    * exponential upgrade of `evt_holt_trend` — an hour-of-day seasonal
    * term (m = 24) joins the level+trend recursion, so a daily-cycled
    * rate forecasts its own peak hours instead of alarming on them.
    * Exact ×10⁶ integer recursion at every sign; the oracle replays it
    * with the seasonal memory carried as a recursive-CTE list. */
  private val holtWintersQ = Q("evt_holt_winters", holtWintersSql) { (s, d) =>
    Timeseries.holtWintersHourly(
      events(s, d),
      "event_type",
      "ts",
      alphaPpm = 300000,
      betaPpm = 125000,
      gammaPpm = 200000,
      period = 24,
    )
  }

  /** Shared oracle SQL for the batch and streaming seasonal-outlier
    * gates (the [[cusumSql]]/[[ewmaSql]] convention). */
  private[queries] val seasonalSql: String =
    """WITH counts AS (
      |  SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |grid AS (SELECT k.key, h.g AS hour_ts, coalesce(c.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM counts) k
      |         CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g
      |                     FROM span) h
      |         LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.g),
      |hs AS (SELECT key, hour(hour_ts) AS hod, CAST(sum(n) AS BIGINT) AS hod_total,
      |         count(*) AS hod_hours
      |       FROM grid GROUP BY 1, 2)
      |SELECT g.key, g.hour_ts, CAST(g.n AS BIGINT) AS n, CAST(hs.hod AS BIGINT) AS hod,
      |  hod_total, hod_hours, g.n * hod_hours > 2 * hod_total AS alarm
      |FROM grid g JOIN hs ON hs.key = g.key AND hs.hod = hour(g.hour_ts)""".stripMargin

  /** Seasonality-adjusted rate anomalies
    * ([[graft.ops.Timeseries.seasonalOutliers]]): hours exceeding 2×
    * their type's own hour-of-day mean over the DENSE grid — the
    * deseasonalized upgrade of `evt_rate_anomaly`'s global-mean test
    * (a count normal at the daily peak alarms at 3 am). Exact
    * cross-multiplied integer comparison; the oracle replays grid
    * fill, hour-of-day census, and the flag. */
  private val seasonalOutliersQ = Q("evt_seasonal_outliers", seasonalSql) { (s, d) =>
    Timeseries.seasonalOutliers(events(s, d), "event_type", "ts", mult = 2)
  }

  /** Top-20 behavioral trigrams — the n-gram extension of
    * [[transitionMatrix]]'s bigrams: per-user ordered event-type
    * 3-paths via two leads over ONE per-user window (a single
    * exchange; the "path mining" query product analytics runs).
    * Global top-k by count then path — the final rank window runs over
    * the ≤|types|³ distinct-path table, never the corpus. */
  private val pathTrigramsQ = Q(
    "evt_path_trigrams",
    """WITH s AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path FROM s WHERE e3 IS NOT NULL)
      |SELECT path, n, rnk FROM (
      |  SELECT path, count(*) AS n,
      |    row_number() OVER (ORDER BY count(*) DESC, path ASC) AS rnk
      |  FROM p GROUP BY 1)
      |WHERE rnk <= 20""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paths = events(s, d)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
    val wr = Window.orderBy(col("n").desc, col("path").asc)
    paths.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 20)
  }

  /** Rollup cascade: the monthly aggregate computed FROM the daily
    * summary, never from the corpus — the materialized-hierarchy
    * refresh pattern (daily → weekly → monthly each reads its finer
    * parent; [[graft.ops.Ivm]] is the delta form of the same algebra).
    * The oracle aggregates the corpus directly: equality proves the
    * cascade is lossless for these mergeable stats. Counts and cent
    * sums are integers, min/max compose exactly. */
  private val rollupCascadeQ = Q(
    "evt_rollup_cascade",
    """SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month_ts, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
      |  max(CAST(round(value * 100) AS BIGINT)) AS max_cents
      |FROM events GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    val daily = events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day_ts"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents).cast("long").as("sum_cents"),
        min(cents).as("min_cents"),
        max(cents).as("max_cents"),
      )
    daily
      .groupBy(col("event_type"), trunc(col("day_ts"), "month").as("month_ts"))
      .agg(
        sum(col("n")).cast("long").as("n"),
        sum(col("sum_cents")).cast("long").as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"),
      )
  }

  /** ACF of the hourly rate series per event type at lags 1..4
    * ([[graft.ops.Timeseries.acfHourly]]) — the periodicity detector
    * that picks `evt_holt_winters`' seasonal period. Exact integer
    * ppm with the rational mean cleared by n² on both sides; the
    * oracle replays the dense grid, the lead alignment, and the
    * pmod-floored quotient. */
  private val acfQ = Q(
    "evt_acf_lags",
    """WITH counts AS (SELECT event_type AS key, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |                FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM counts),
      |grid AS (SELECT k.key, h.g AS hour_ts, coalesce(c.n, 0) AS n
      |         FROM (SELECT DISTINCT key FROM counts) k
      |         CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g
      |                     FROM span) h
      |         LEFT JOIN counts c ON c.key = k.key AND c.hour_ts = h.g),
      |leads AS (SELECT key, n,
      |            lead(n, 1) OVER w AS y1, lead(n, 2) OVER w AS y2,
      |            lead(n, 3) OVER w AS y3, lead(n, 4) OVER w AS y4
      |          FROM grid WINDOW w AS (PARTITION BY key ORDER BY hour_ts)),
      |lagged AS (
      |  SELECT key, lag, count(*) AS m,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy, sum(x) AS sa, sum(y) AS sb
      |  FROM (
      |    SELECT key, CAST(1 AS BIGINT) AS lag, n AS x, y1 AS y FROM leads
      |    UNION ALL SELECT key, 2, n, y2 FROM leads
      |    UNION ALL SELECT key, 3, n, y3 FROM leads
      |    UNION ALL SELECT key, 4, n, y4 FROM leads)
      |  WHERE y IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT key, count(*) AS n, sum(n) AS s,
      |          sum(CAST(n AS HUGEINT) * n) AS sxx
      |        FROM grid GROUP BY 1)
      |SELECT l.key, l.lag, CAST(l.m AS BIGINT) AS n_pairs,
      |  CASE WHEN dd.den = 0 THEN NULL
      |       ELSE CAST((vv.v - ((vv.v % dd.den + dd.den) % dd.den)) // dd.den AS BIGINT)
      |  END AS acf_ppm
      |FROM lagged l JOIN tot t ON t.key = l.key,
      |LATERAL (SELECT CAST(t.n AS HUGEINT) * t.n * l.sxy
      |                - CAST(t.n AS HUGEINT) * t.s * (l.sa + l.sb)
      |                + CAST(l.m AS HUGEINT) * t.s * t.s AS num,
      |               CAST(t.n AS HUGEINT) * t.n * t.sxx
      |                - CAST(t.n AS HUGEINT) * t.s * t.s AS den) dd,
      |LATERAL (SELECT dd.num * 1000000 AS v) vv""".stripMargin,
  ) { (s, d) =>
    Timeseries.acfHourly(events(s, d), "event_type", "ts", maxLag = 4)
  }

  /** Kendall concordance between two event types' hourly rates
    * ([[graft.ops.Stats.kendallCounts]]): do error and click traffic
    * co-move hour by hour? Exact pair census (concordant, discordant,
    * three tie classes) over the bounded hourly table — the robust
    * monotone-association twin of `misc_corr_stats`' Pearson moments. */
  private val kendallQ = Q(
    "evt_kendall_tau",
    """WITH h AS (
      |  SELECT date_trunc('hour', ts) AS t,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT sign(a.x - b.x) AS sx, sign(a.y - b.y) AS sy
      |  FROM h a JOIN h b ON a.t < b.t)
      |SELECT count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |  CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |  CAST(sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
      |  CAST(sum(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_y,
      |  CAST(sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_xy,
      |  CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
      |    - sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tau_num
      |FROM p""".stripMargin,
  ) { (s, d) =>
    val h = events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("t"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("y"),
      )
    graft.ops.Stats.kendallCounts(h, "t", "x", "y")
  }

  /** Theil–Sen trend per event type over the hourly rate series — the
    * robust (median-of-pairwise-slopes) alternative to least squares,
    * immune to the spike hours CUSUM flags. Slopes are integer ppm per
    * hour (Δn·10⁶ div Δt); the pairwise join and the median selection
    * both run over the BOUNDED hourly table (≤ |span|² pairs per key —
    * a month is 259k pairs, a fixed cost independent of corpus size),
    * with the median as the usual nearest-rank histogram selection. */
  private val theilSenQ = Q(
    "evt_theilsen_trend",
    """WITH h AS (
      |  SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |sl AS (
      |  SELECT a.event_type, ((b.n - a.n) * 1000000) // (b.t - a.t) AS slope_ppm
      |  FROM h a JOIN h b ON a.event_type = b.event_type AND b.t > a.t),
      |hist AS (SELECT event_type, slope_ppm, count(*) AS c FROM sl GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, slope_ppm, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY slope_ppm
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS w
      |  FROM hist)
      |SELECT event_type, CAST(w AS BIGINT) AS n_pairs,
      |  CAST(min(CASE WHEN cum >= (w + 1) // 2 THEN slope_ppm END) AS BIGINT)
      |    AS slope_ppm_median
      |FROM cum GROUP BY event_type, w""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = events(s, d)
      .groupBy(
        col("event_type"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("t"),
      )
      .agg(count(lit(1)).as("n"))
    val a = h.select(col("event_type"), col("t").as("t1"), col("n").as("n1"))
    val b = h.select(col("event_type"), col("t").as("t2"), col("n").as("n2"))
    val slopes = a
      .join(b, Seq("event_type"))
      .filter(col("t2") > col("t1"))
      .select(
        col("event_type"),
        expr("((n2 - n1) * 1000000L) div (t2 - t1)").as("slope_ppm"),
      )
    val hist = slopes.groupBy("event_type", "slope_ppm").agg(count(lit(1)).as("c"))
    val wCum = Window
      .partitionBy("event_type")
      .orderBy("slope_ppm")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("event_type")
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("w", sum(col("c")).over(wAll))
      .groupBy(col("event_type"), col("w"))
      .agg(
        min(when(col("cum") >= expr("(w + 1) div 2"), col("slope_ppm")))
          .as("slope_ppm_median")
      )
      .select(col("event_type"), col("w").cast("long").as("n_pairs"), col("slope_ppm_median"))
  }

  /** Hour-of-day seasonality profile per event type: each hour slot's
    * share of the type's traffic in exact ppm, with the peak slot
    * flagged (ties to the earliest hour). The 24-slot profile is the
    * input to seasonal baselining; everything after the one corpus
    * aggregate runs on the ≤|types|·24 table. */
  private val seasonalityQ = Q(
    "evt_seasonality",
    """WITH h AS (
      |  SELECT event_type, hour(ts) AS hour_of_day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, hour_of_day, n,
      |    CAST((n * 1000000) // sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS share_ppm,
      |    row_number() OVER (PARTITION BY event_type ORDER BY n DESC, hour_of_day ASC) AS rk
      |  FROM h)
      |SELECT event_type, hour_of_day, n, share_ppm, rk = 1 AS is_peak FROM s""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val wT = Window.partitionBy("event_type")
    val wR = Window.partitionBy("event_type").orderBy(col("n").desc, col("hour_of_day").asc)
    h.withColumn("__tot", sum(col("n")).over(wT))
      .withColumn("share_ppm", expr("(n * 1000000L) div __tot"))
      .withColumn("is_peak", row_number().over(wR) === 1)
      .select("event_type", "hour_of_day", "n", "share_ppm", "is_peak")
  }

  val all: Seq[Q] = Seq(
    resampleLocfQ,
    burstDetectQ,
    burstSummaryQ,
    dtwPairsQ,
    dtwMedoidQ,
    dtwBarycenterQ,
    mannKendallQ,
    kaplanMeierQ,
    kaplanMeierByQ,
    nelsonAalenQ,
    logRankQ,
    logRankStratQ,
    rmstQ,
    cusumChangepointQ,
    hampelQ,
    ewmaHourlyQ,
    holtHourlyQ,
    holtWintersQ,
    acfQ,
    kendallQ,
    seasonalOutliersQ,
    pathTrigramsQ,
    rollupCascadeQ,
    theilSenQ,
    seasonalityQ,
    attributionQ,
    intervalMergeQ,
    cohortRetention,
    rollingWau,
    transitionMatrix,
    decayedEngagement,
    jsonExtractGroup,
    severityCaseMap,
    dateTruncHour,
    tumbling15min,
    pivotUserCounts,
    firstMatchPerUser,
    asofErrorClick,
    asofNextView,
    asofNearestQ,
    asofWithinQ,
    sessionize,
    typeOverlap,
    mapFilterCounts,
    mapZipSum,
    sessionWindowNative,
    funnelStepsQ,
    funnelReportQ,
    rateAnomaly,
  )
}
