package graft.queries

import graft.expr.Parity._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators (SURVEY.md §2.8), executed as real
  * streaming queries inside the correctness gate: the events table is
  * replayed through a file stream source into a windowed aggregation
  * and a memory sink, and the sink's contents are the query result —
  * checked against the same DuckDB oracle as the batch form. With
  * `Trigger.AvailableNow` + complete mode this is deterministic.
  */
object StreamingQueries {

  /** The file-stream source needs an explicit schema, and the physical
    * type of `events.ts` varies by testdata generation (raw int64 nanos
    * vs TIMESTAMP(MICROS) — see [[graft.Tables.normalizeEventTs]]). The
    * batch path's file schema ([[graft.Tables.schema]], inferred once
    * per process) is the exact as-read schema; [[eventsStream]] then
    * applies the same ts normalization as the batch path so streaming
    * and batch queries see identical types.
    *
    * Deliberate side effect: this sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the session and
    * LEAVES it set, because the later `readStream` of a nanos-
    * generation events file needs the flag at stream-read time, not
    * just at schema time. The flag is a no-op for micros-generation
    * data, so it is safe to pin for the session's lifetime. */
  private val eventsRawSchema = Shared("events_raw_schema") { (s, d) =>
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.schema(s, s"$d/events.parquet")
  }

  /** Streaming read of the events table with the batch path's ts
    * normalization applied. */
  private def eventsStream(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame =
    graft.Tables.normalizeEventTs(
      s.readStream.schema(eventsRawSchema(s, d)).parquet(eventsSrcDir(s, d))
    )

  /** This suite's shared artifacts, in prewarm order: the time split
    * is written before the hourly state, so that artifact's cost is the
    * one streaming replay itself, not the split write. */
  private[graft] def artifacts: Seq[Shared[_]] = Seq(
    eventsRawSchema, eventsSrcDir, eventsReplaySrc, leftOuterSplitDir, documentsSplitDir,
    hourlyStateTable, conformalStateTable,
  )

  def prewarmShared(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      selected: Option[Set[String]] = None,
  ): Seq[(String, Double)] = Shared.prewarm(artifacts, s, d, selected)

  private var streamN = 0

  /** Scratch space for replay sources and streaming checkpoints —
    * tmpfs (`/dev/shm`) when available. A replay's fixed cost is its
    * checkpoint I/O: a state-store delta per partition and an offset and
    * commit log entry per batch. Through Hadoop's local filesystem
    * without `libhadoop` each of those files forks `chmod`/`readlink`
    * processes; [[graft.ocsf.Monitor.runToEnd]] routes them through
    * java.nio, and tmpfs keeps the writes themselves at memory speed.
    * Production jobs point `checkpointLocation` at durable storage
    * instead — this is bench/gate scratch, not the durability story
    * ([[graft.ocsf.Monitor]] keeps its real checkpoint on the job's
    * filesystem). */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    reapAtExit
    liveScratch.add(dir)
    dir
  }

  /** tmpfs outlives the JVM: without cleanup every run leaks RAM-backed
    * directories until reboot. Cached dirs (sources, splits) live for
    * the session and are deleted at exit by one shutdown hook; per-query
    * dirs are deleted as soon as their query ends ([[withScratchDir]])
    * and leave the hook's set then. */
  private val liveScratch = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val reapAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => liveScratch.forEach(deleteScratch(_))))

  private def deleteScratch(dir: java.nio.file.Path): Unit = {
    try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    catch { case _: Throwable => () }
    liveScratch.remove(dir)
  }

  /** Run a body against a fresh scratch dir and delete the dir as soon
    * as the body returns — checkpoints of a completed AvailableNow
    * replay have no replay value. */
  private def withScratchDir[T](prefix: String)(body: String => T): T = {
    val dir = scratchDir(prefix)
    try body(dir.toString)
    finally deleteScratch(dir)
  }

  /** The events table exposed as a file-stream source directory (the
    * file source requires a directory; testdata is read-only, so the
    * single parquet file is symlinked in). Built once per (session,
    * sfDir) and reused by every replay query — the replay analog of
    * the dedup suite's shared shingle table. */
  private val eventsSrcDir = Shared("events_src_dir") { (s, d) =>
    val streamDir = scratchDir("graft_stream_src")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(d, "events.parquet").toAbsolutePath,
    )
    streamDir.toString
  }

  /** The replay source as the prewarm builds it: schema probe, then
    * source dir, under one timing. */
  private val eventsReplaySrc = Shared("events_replay_src",
    Set("stream_tumbling_event_counts", "stream_interval_join", "stream_static_enrich")) {
    (s, d) => (eventsRawSchema(s, d), eventsSrcDir(s, d))
  }

  /** The staggered-mtime 3-file time split the left-outer replay reads
    * (days 1-10 / 11-20 / 21-30; mtime order IS micro-batch order for
    * the file source). One scan, one parallel write: bucket by time
    * range, `partitionBy` emits one file per bucket (each bucket value
    * lives in exactly one repartition output). Built once per (session,
    * sfDir) and reused — the split is a pure function of the input
    * table, so repeated runs pay only the streaming machinery. */
  private val leftOuterSplitDir = Shared("events_time_split", Set(
    // every gate whose builder reads this split, directly or via the
    // hourly/conformal state — r14 review finding: the list had drifted
    // behind the gate set, so a narrowed bench paid the split write
    // inside the first selected query's timed region
    "stream_dedup", "stream_funnel_steps", "stream_left_outer_join", "stream_session_window",
    "stream_cms_sketch", "stream_rate_anomaly", "stream_profile", "stream_dist_drift",
    "stream_agg_maintain", "stream_full_outer_join", "stream_cusum", "stream_ewma", "stream_hampel",
    "stream_topk", "stream_topk_maintain", "stream_conformal", "stream_conformal_by", "stream_isotonic",
    "stream_kll", "stream_kll_by",
    "stream_approx_distinct", "stream_holt", "stream_holt_winters", "stream_seasonal",
  )) { (s, d) =>
    import java.nio.file.Files
    val events    = graft.Tables.events(s, d)
    val streamDir = scratchDir("graft_stream_louter_src")
    val tmpOut    = streamDir.resolve("_tmp_split")
    events
      .withColumn(
        "__b",
        when(col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-21 00:00:00").cast("timestamp"), 1)
          .otherwise(2),
      )
      .repartition(3, col("__b"))
      .write
      .partitionBy("__b")
      .parquet(tmpOut.toString)
    (0 to 2).foreach { i =>
      val bucketDir = tmpOut.resolve(s"__b=$i")
      // an empty time range writes no partition directory — that
      // bucket simply contributes no micro-batch
      if (Files.exists(bucketDir)) {
        val listing = Files.list(bucketDir)
        val part =
          try listing.filter(_.getFileName.toString.endsWith(".parquet")).findFirst()
          finally listing.close()
        if (part.isPresent) {
          val dest = streamDir.resolve(s"events_$i.parquet")
          Files.move(part.get(), dest)
          Files.setLastModifiedTime(
            dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L),
          )
        }
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmpOut.toFile)
    streamDir.toString
  }

  /** The time split as a replay stream: one [[leftOuterSplitDir]] file
    * per micro-batch, read by the events table's schema. */
  private def splitEventsStream(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame = {
    val schema = graft.Tables.events(s, d).schema
    s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(leftOuterSplitDir(s, d))
  }

  /** Run `body` with the session's shuffle-partition count temporarily
    * lowered to `n`. Stateful streaming operators create one state
    * store per shuffle partition per operator per micro-batch — at
    * replay scale (a few MB of join state) 32 partitions are pure
    * commit overhead. The count is locked into each query's (fresh)
    * checkpoint at start, so this right-sizes state stores without
    * touching the session default; production jobs size it to state
    * volume the same way. */
  private def withStatePartitions[T](s: org.apache.spark.sql.SparkSession, n: Int)(
      body: => T
  ): T = graft.SessionSettings.withSettings(s, Map("spark.sql.shuffle.partitions" -> n.toString))(body)

  /** ST1/ST4 + tumbling event-time window: streaming replay of the
    * 15-minute bucket aggregation. */
  private val tumblingStream = Q(
    "stream_tumbling_event_counts",
    s"""SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start, event_type,
       |  COUNT(*) AS n, ${DSUM("value")} AS total
       |FROM events GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    val stream = eventsStream(s, d)
    val agg = stream
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("bucket_start"), col("event_type"), col("n"), col("total"))
    runCompleteStream(s, agg, "agg")
  }

  /** Stream-stream interval join with watermarks on both sides: each
    * error event joined to the same user's click events in the
    * preceding 45 minutes. The time bound plus both watermarks is what
    * lets Spark evict join state (unbounded otherwise — the condition
    * every production stream-stream join must satisfy); replaying the
    * full table with AvailableNow makes the emitted matches exactly the
    * batch join's rows, which is what the oracle checks. */
  private val intervalJoinStream = Q(
    "stream_interval_join",
    """SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
      |FROM events e JOIN events c
      |  ON e.user_id = c.user_id AND e.event_type = 'error' AND c.event_type = 'click'
      | AND c.ts >= e.ts - INTERVAL 45 MINUTE AND c.ts < e.ts""".stripMargin,
  ) { (s, d) =>
    def side(alias: String) = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .as(alias)
    val errors = side("e").filter(col("event_type") === "error")
    val clicks = side("c").filter(col("event_type") === "click")
    val joined = errors
      .join(
        clicks,
        col("e.user_id") === col("c.user_id") &&
          col("c.ts") >= col("e.ts") - expr("INTERVAL 45 MINUTES") &&
          col("c.ts") < col("e.ts"),
      )
      .select(col("e.event_id").as("err_id"), col("c.event_id").as("click_id"), col("e.user_id"))
    runStream(s, joined, "join", "append")
  }

  /** Left-outer stream-stream join with deterministic outer emission
    * (BACKLOG #3, reference's late-data intent at
    * `scripts/helpers/gcs_utils.py:80-84`). Unmatched left rows emit
    * only once the watermark passes their join window, which needs the
    * watermark to actually ADVANCE between micro-batches — a single
    * AvailableNow batch never closes anything. So the replay time-splits
    * the events table into three files (days 1-10 / 11-20 / 21-30) with
    * staggered mtimes and `maxFilesPerTrigger=1`, giving three ordered
    * micro-batches. The left side is restricted to errors before Jan 11
    * (file 1): batch 2 runs with watermark ≈ Jan 10 23:00 - 1h and
    * batch 3 with watermark ≈ Jan 20 23:00 - 1h, so by batch 3 every
    * left row's window is closed and every unmatched error has emitted
    * its null-extended row — making the streaming result exactly the
    * batch LEFT JOIN the oracle runs. */
  private val leftOuterJoinStream = Q(
    "stream_left_outer_join",
    """SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
      |FROM (SELECT * FROM events
      |      WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-11 00:00:00') e
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts - INTERVAL 45 MINUTE AND c.ts < e.ts""".stripMargin,
  ) { (s, d) =>
    val streamDir = leftOuterSplitDir(s, d)
    val rewrittenSchema = graft.Tables.events(s, d).schema // ts TIMESTAMP(MICROS) after rewrite
    def side(alias: String) = s.readStream
      .schema(rewrittenSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withWatermark("ts", "1 hour")
      .as(alias)
    val errors = side("e")
      .filter(col("event_type") === "error" && col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"))
    val clicks = side("c").filter(col("event_type") === "click")
    val joined = errors
      .join(
        clicks,
        col("e.user_id") === col("c.user_id") &&
          col("c.ts") >= col("e.ts") - expr("INTERVAL 45 MINUTES") &&
          col("c.ts") < col("e.ts"),
        "left_outer",
      )
      .select(col("e.event_id").as("err_id"), col("c.event_id").as("click_id"), col("e.user_id"))
    runStream(s, joined, "louter", "append")
  }

  /** FULL-outer stream-stream join — completes the streaming join
    * matrix (inner ✅ interval, left-outer ✅): unmatched rows from
    * BOTH sides emit null-extended once the watermark passes their
    * join window, so unlike the left-outer gate BOTH sides are
    * restricted to the first time-split file (errors AND clicks before
    * Jan 11) — by batch 3 (watermark ≈ Jan 20) every row's window on
    * either side has provably closed and the streaming result equals
    * the batch FULL JOIN the oracle runs. `user_id` is coalesced
    * across sides (a right-only row has no e.user_id). */
  private val fullOuterJoinStream = Q(
    "stream_full_outer_join",
    """SELECT e.event_id AS err_id, c.event_id AS click_id,
      |  coalesce(e.user_id, c.user_id) AS user_id
      |FROM (SELECT * FROM events
      |      WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-11 00:00:00') e
      |FULL JOIN (SELECT * FROM events
      |      WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-11 00:00:00') c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts - INTERVAL 45 MINUTE AND c.ts < e.ts""".stripMargin,
  ) { (s, d) =>
    val streamDir = leftOuterSplitDir(s, d)
    val rewrittenSchema = graft.Tables.events(s, d).schema
    def side(alias: String) = s.readStream
      .schema(rewrittenSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withWatermark("ts", "1 hour")
      .as(alias)
    val cutoff = lit("2024-01-11 00:00:00").cast("timestamp")
    val errors = side("e").filter(col("event_type") === "error" && col("ts") < cutoff)
    val clicks = side("c").filter(col("event_type") === "click" && col("ts") < cutoff)
    val joined = errors
      .join(
        clicks,
        col("e.user_id") === col("c.user_id") &&
          col("c.ts") >= col("e.ts") - expr("INTERVAL 45 MINUTES") &&
          col("c.ts") < col("e.ts"),
        "full_outer",
      )
      .select(
        col("e.event_id").as("err_id"),
        col("c.event_id").as("click_id"),
        coalesce(col("e.user_id"), col("c.user_id")).as("user_id"),
      )
    runStream(s, joined, "fouter", "append")
  }

  /** The documents table as a 3-file doc_id-tertile split with
    * staggered mtimes (micro-batch order), for stateful-sampling
    * replays. Built once per (session, sfDir). */
  private val documentsSplitDir = Shared("documents_split", Set(
    "stream_decontaminate", "stream_reservoir_sample", "stream_left_outer_join",
    "stream_bpe_drift",
  )) { (s, d) =>
    import java.nio.file.Files
    val docs      = graft.Tables.documents(s, d)
    val n         = docs.count()
    val streamDir = scratchDir("graft_stream_docs_src")
    val tmpOut    = streamDir.resolve("_tmp_split")
    docs
      .withColumn(
        "__b",
        when(col("doc_id") < lit(n / 3), 0)
          .when(col("doc_id") < lit(2 * n / 3), 1)
          .otherwise(2),
      )
      .repartition(3, col("__b"))
      .write
      .partitionBy("__b")
      .parquet(tmpOut.toString)
    (0 to 2).foreach { i =>
      val bucketDir = tmpOut.resolve(s"__b=$i")
      if (Files.exists(bucketDir)) {
        val listing = Files.list(bucketDir)
        val part =
          try listing.filter(_.getFileName.toString.endsWith(".parquet")).findFirst()
          finally listing.close()
        if (part.isPresent) {
          val dest = streamDir.resolve(s"documents_$i.parquet")
          Files.move(part.get(), dest)
          Files.setLastModifiedTime(
            dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L),
          )
        }
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmpOut.toFile)
    streamDir.toString
  }

  /** Streaming fixed-quota reservoir ([[graft.ops.StreamSample]]): the
    * documents corpus replayed as three doc_id-tertile micro-batches
    * through a flatMapGroupsWithState reservoir (state = k (hash, id)
    * pairs per source — never the stream). Hash order is independent
    * of doc_id order, so later batches genuinely displace earlier
    * state members. The Update-mode emissions accumulate in the memory
    * sink; the k-smallest post-selection over that bounded superset
    * (≤ batches·k rows per stratum) is exactly the final reservoir —
    * checked against the same batch SQL as `misc_sample_reservoir`. */
  private val reservoirStream = Q(
    "stream_reservoir_sample",
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10""".stripMargin,
  ) { (s, d) =>
    val docsSchema = graft.Tables.documents(s, d).schema
    val stream = s.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(documentsSplitDir(s, d))
    val sampled = graft.ops.StreamSample.reservoirStream(stream, "doc_id", "source", k = 10)
    val emitted = runStream(s, sampled.toDF(), "reservoir", "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("strata")
      .orderBy(col("h"), col("id"))
    emitted
      .distinct()
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 10)
      .select(col("id").as("doc_id"), col("strata").as("source"))
  }

  /** Streaming benchmark decontamination
    * ([[graft.ops.Dedup.contaminatedPredicate]]): the corpus replayed
    * as three micro-batches through the map-only n-gram leakage guard —
    * the eval set's distinct shingles are collected once (tiny by
    * definition) and the whole operator is a stateless filter, so it
    * needs no watermark, no state store, and no shuffle: the shape a
    * decontamination gate must have at ingestion time. Checked against
    * the identical batch SQL as `ddp_decontaminate`. */
  private val decontaminateStream = Q(
    "stream_decontaminate",
    """WITH bench AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
      |corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
      |btoks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM bench),
      |bsh AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
      |  FROM btoks),
      |ctoks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM corpus),
      |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS sh
      |  FROM ctoks),
      |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
      |SELECT doc_id, source FROM corpus
      |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
  ) { (s, d) =>
    val bench = graft.Tables.documents(s, d).filter(col("doc_id") % 50 === 0)
    val benchShingles = graft.ops.Dedup
      .shingleSets(bench, "doc_id", "text", 5)
      .select("sh")
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
    val docsSchema = graft.Tables.documents(s, d).schema
    val cleaned = s.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(documentsSplitDir(s, d))
      .filter(col("doc_id") % 50 =!= 0)
      .filter(!graft.ops.Dedup.contaminatedPredicate(col("text"), benchShingles, 5))
      .select("doc_id", "source")
    runStream(s, cleaned, "decontam", "append")
  }

  /** Streaming dedup with watermark-bounded state
    * ([[graft.ops.StreamDedup.dedupWithinWatermark]], ST5's streaming
    * twin): the events table replayed as three ordered micro-batches
    * through `dropDuplicatesWithinWatermark` on (user_id, event_type).
    * State built in batch 1 suppresses re-occurrences arriving in
    * batches 2 and 3 — a cross-micro-batch property a single
    * AvailableNow batch would not exercise. The delay spans the whole
    * replay (no state eviction), so the emitted set is exactly the
    * batch DISTINCT the oracle runs; only the key columns are emitted
    * because which PHYSICAL row wins within a micro-batch is not
    * deterministic (WatermarkSpec covers the eviction semantics the
    * bounded delay exists for). */
  private val dedupStream = Q(
    "stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
      .select("user_id", "event_type", "ts")
    val deduped = graft.ops.StreamDedup
      .dedupWithinWatermark(stream, "ts", "45 days", Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    runStream(s, deduped, "dedup", "append")
  }

  /** Stream-static dimension join — the enrichment shape every
    * production stream runs (facts arrive as a stream, dimensions are
    * a table): each micro-batch broadcast-joins the static customer
    * table; no state store, no watermark, because the static side is
    * re-resolvable per batch. Emitted rows are exactly the batch
    * join's, which is what the oracle checks. */
  private val staticJoinStream = Q(
    "stream_static_enrich",
    """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, c.c_name AS cust_name
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
  ) { (s, d) =>
    val stream = s.readStream
      .schema(eventsRawSchema(s, d))
      .parquet(eventsSrcDir(s, d))
      .select("event_id", "user_id")
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_name").as("cust_name"))
    // No forced broadcast: the customer dimension is corpus-proportional,
    // so the hint must stay a planner *choice* (AQE broadcasts it while it
    // fits under the threshold) rather than a hard-coded driver OOM at
    // 100 TB. Stream-static equi-joins fall back to a keyed shuffle join
    // when the dim outgrows the threshold — the scale-safe plan.
    val enriched = stream
      .join(dim, col("user_id") === col("c_custkey"))
      .select("event_id", "user_id", "segment", "cust_name")
    runStream(s, enriched, "static", "append")
  }

  /** Streaming sessionization: `session_window` state merged ACROSS
    * micro-batches — a session straddling the file boundary (an event
    * at Jan 10 23:5x and the next at Jan 11 00:0x) must merge batch-1
    * state with batch-2 events before it can close. Sessions emit in
    * append mode once the watermark passes their end; with three
    * ordered batches the watermark during batch 3 is ≈ Jan 20 22:5x
    * (max event time through batch 2, minus 1h), so every session
    * ending before Jan 18 has provably emitted. Both engines filter to
    * that window, making the streaming result exactly the batch
    * gap-construction the `evt_session_window_native` oracle uses. */
  private val sessionWindowStream = Q(
    "stream_session_window",
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
       |  FROM flagged),
       |sessions AS (
       |  SELECT user_id, min(ts) AS w_start,
       |    max(ts) + INTERVAL 30 MINUTE AS w_end, COUNT(*) AS n_events
       |  FROM numbered GROUP BY user_id, sid)
       |SELECT * FROM sessions WHERE w_end < TIMESTAMP '2024-01-18 00:00:00'""".stripMargin,
  ) { (s, d) =>
    // NB the w_end bound is applied to the SINK TABLE, not inside the
    // streaming query: a post-aggregation predicate on the session
    // window's end gets pushed below the aggregation (sound for fixed
    // windows, where an event's window is a pure function of its
    // timestamp — unsound for session windows, where merging can move
    // the end past the bound: the push drops the merge partner and
    // un-merges the session, observed at sf0.1).
    val sessions = splitEventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("w_start"), col("sw.end").as("w_end"),
        col("n_events"))
    runStream(s, sessions, "session", "append")
      .filter(col("w_end") < lit("2024-01-18 00:00:00").cast("timestamp"))
  }

  /** Streaming conversion funnel over custom `mapGroupsWithState`
    * state ([[graft.ops.Funnel.streamingFunnel3]]), replayed across
    * the 3-file time split: per-user step-timestamp lists fold across
    * micro-batches and each batch emits the recomputed walk (update
    * mode). Every emitted column is monotone toward its final value
    * (see the op's scaladoc), so the sink-side
    * `groupBy(user).agg(min ts…, max steps)` equals the final state —
    * which the batch-SQL oracle (identical to `evt_funnel_steps`)
    * checks. */
  private val funnelStream = Q(
    "stream_funnel_steps",
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
    val stream = splitEventsStream(s, d)
    val updates = graft.ops.Funnel
      .streamingFunnel3(stream, "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    // finalNoDataBatch = false: the funnel emits only in update mode on
    // data, and its EventTimeTimeout horizon (30 idle days) sits far
    // past the replay's watermark — the watermark-flush batch can emit
    // nothing here, so skipping it trims one full commit cycle
    runStream(s, updates.toDF(), "funnel", "update", finalNoDataBatch = false)
      .groupBy("user_id")
      .agg(
        min("step1_us").as("u1"),
        min("step2_us").as("u2"),
        min("step3_us").as("u3"),
        max("steps_completed").as("steps_completed"),
      )
      .select(
        col("user_id"),
        timestamp_micros(col("u1")).as("step1_ts"),
        timestamp_micros(col("u2")).as("step2_ts"),
        timestamp_micros(col("u3")).as("step3_ts"),
        col("steps_completed"),
      )
  }

  /** Streaming Count-Min Sketch build ([[graft.ops.Cms]]): the d×w
    * counter table maintained as a streaming aggregation over the
    * replay — the sketch's mergeability is exactly what makes it a
    * valid streaming state (counters merge by addition across
    * micro-batches, the same property the batch build exploits
    * map-side). Complete-mode emission of ≤ d·w rows per trigger;
    * the oracle is the BATCH sketch over the same events, which the
    * final streaming state must equal exactly (deterministic md5
    * buckets, integer counters). */
  private val cmsStream = Q(
    "stream_cms_sketch",
    """WITH rows_ AS (SELECT unnest(generate_series(0, 3)) AS r)
      |SELECT r AS row_,
      |  CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || coalesce(CAST(user_id AS VARCHAR), '')), 1, 6)) AS BIGINT) % 128 AS bucket,
      |  count(*) AS cnt
      |FROM events, rows_ GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val sk = stream
      .select(explode(org.apache.spark.sql.functions.sequence(lit(0), lit(3))).as("row_"), col("user_id"))
      .groupBy(col("row_"), graft.ops.Cms.bucketOf(col("row_"), col("user_id"), 128).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    runCompleteStream(s, sk, "cms")
  }

  /** Oracle for [[bpeDriftStream]]: one BPE chain per window plus the
    * frozen full-corpus chain, composed in a single query via
    * [[TextQueries.bpeChain]]'s prefix/where parameters; divergence is
    * integer-ppm over the per-window merge membership. */
  private def bpeDriftOracleSql: String = {
    val k      = 4
    val frozen = TextQueries.bpeChain(k, prefix = "z")
    val chains = (0 to 2).map(i =>
      TextQueries.bpeChain(k, prefix = s"q$i", where = s"WHERE doc_id % 3 = $i", withKeyword = false)
    )
    val wrows = (0 to 2)
      .flatMap(i =>
        (1 to k).map(r =>
          s"SELECT CAST($i AS BIGINT) AS window_id, $r AS merge_rank, lhs, rhs FROM q${i}b$r"
        )
      )
      .mkString("\nUNION ALL\n")
    val froz = (1 to k).map(r => s"SELECT lhs || rhs AS merged FROM zb$r").mkString(" UNION ALL ")
    s"""$frozen,
       |${chains.mkString(",\n")},
       |froz AS ($froz),
       |wrows AS ($wrows),
       |wd AS (SELECT w.window_id, w.merge_rank, w.lhs, w.rhs, w.lhs || w.rhs AS merged,
       |         (w.lhs || w.rhs) IN (SELECT merged FROM froz) AS in_frozen
       |       FROM wrows w),
       |dv AS (SELECT window_id,
       |         CAST((count(*) - sum(CASE WHEN in_frozen THEN 1 ELSE 0 END)) * 1000000
       |              // count(*) AS BIGINT) AS divergence_ppm
       |       FROM wd GROUP BY 1)
       |SELECT wd.window_id, wd.merge_rank, wd.lhs, wd.rhs, wd.merged, wd.in_frozen,
       |  dv.divergence_ppm
       |FROM wd JOIN dv USING (window_id)""".stripMargin
  }

  /** Streaming BPE vocabulary drift monitor (r9 verdict item 6 /
    * backlog (c)): the corpus replayed as micro-batches; each batch's
    * per-window word counts APPEND to an accumulator table — word
    * frequencies are the only corpus-derived state BPE training needs
    * ([[graft.ops.Bpe.wordFreq]]), and they merge by addition, so the
    * accumulator is the streaming-maintainable form of the training
    * input. After every batch, the windows that batch touched re-learn
    * their k merges from the accumulated (vocab-sized, never
    * corpus-sized) word table and refresh their divergence vs the
    * FROZEN full-corpus vocabulary — the signal a production pipeline
    * alerts on before re-training a tokenizer. Windows are
    * `doc_id % 3` (an attribute-derived stand-in for time windows:
    * batch membership must be data-defined, not arrival-defined, for
    * the batch-equivalence oracle to exist). The final monitor state
    * after the replay equals batch per-window induction — exactly
    * what the oracle replays. */
  private val bpeDriftStream = Q(
    "stream_bpe_drift",
    bpeDriftOracleSql,
  ) { (s, d) =>
    val k          = 4
    val docsSchema = graft.Tables.documents(s, d).schema
    // the training rounds aggregate VOCAB-sized tables (a few thousand
    // rows); 32 shuffle partitions make per-round task scheduling the
    // dominant cost of the whole gate — size the rounds like the other
    // small-state replays
    val frozen = withStatePartitions(s, 4) {
      graft.ops.Bpe
        .learnMerges(graft.Tables.documents(s, d), "text", k)
        .collect()
        .map(_.getString(3))
        .toSet
    }
    val stream = s.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(documentsSplitDir(s, d))
    val state =
      scala.collection.mutable.Map.empty[Long, Seq[(Int, String, String)]]
    withStatePartitions(s, 4) {
      withScratchDir("graft_ckpt_bpedrift") { ckpt =>
        withScratchDir("graft_bpe_acc") { accDir =>
          graft.ocsf.Monitor.runToEnd(s) {
            stream.writeStream
              .option("checkpointLocation", ckpt)
              .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                val wc = batch
                  .select(
                    (col("doc_id") % 3).as("window_id"),
                    explode(graft.ops.Text.tokens(col("text"))).as("w"),
                  )
                  .groupBy("window_id", "w")
                  .agg(count(lit(1)).as("freq"))
                wc.write.mode("append").parquet(accDir)
                // grouped re-learn: ALL windows in one dataflow per merge
                // round ([[graft.ops.Bpe.learnMergesPerKey]]) — O(k) vocab
                // scans per batch regardless of window count, the shape
                // that keeps a many-window monitor viable. The collect is
                // bounded: |windows| · k merge rows.
                val acc = batch.sparkSession.read
                  .parquet(accDir)
                  .groupBy("window_id", "w")
                  .agg(sum("freq").as("freq"))
                graft.ops.Bpe
                  .learnMergesPerKey(acc, "window_id", k)
                  .collect()
                  .groupBy(_.getLong(0))
                  .foreach { case (wd, rows) =>
                    state(wd) = rows
                      .sortBy(_.getInt(1))
                      .map(r => (r.getInt(1), r.getString(2), r.getString(3)))
                      .toSeq
                  }
                ()
              }
              .trigger(Trigger.AvailableNow())
              .start()
          }
        }
      }
    }
    import s.implicits._
    state.toSeq
      .flatMap { case (wd, ms) =>
        // truncating div == DuckDB floor div here: both operands non-negative
        val div = (ms.size - ms.count { case (_, l, r) => frozen(l + r) }).toLong * 1000000L /
          ms.size
        ms.map { case (rank, l, r) => (wd, rank, l, r, l + r, frozen(l + r), div) }
      }
      .toDF("window_id", "merge_rank", "lhs", "rhs", "merged", "in_frozen", "divergence_ppm")
  }

  /** Streaming twin of `evt_rate_anomaly` — the ingestion-monitoring
    * shape: per-(type, hour) counts maintained as a streaming
    * aggregation across the 3-batch replay (counts merge by addition,
    * the same mergeability the CMS stream exploits), with the spike
    * flags derived from the final state batch-side — the flag needs
    * every hour's count, so it is a VIEW over the monitoring state, not
    * part of it (computing it inside the stream would mean a
    * complete-mode global window per trigger). State is bounded at
    * types × hours regardless of event volume. Oracle: the batch
    * anomaly SQL — the final streaming state must equal the batch
    * hourly table exactly, so the derived flags match too. */
  private val rateAnomalyStream = Q(
    "stream_rate_anomaly",
    Events.rateAnomalySql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val hourly = stream
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    Events.spikeView(runCompleteStream(s, hourly, "anomaly"))
  }

  /** Run a complete-mode aggregation stream into a memory sink with
    * the AvailableNow replay and return the FROZEN final state table —
    * THE single definition of the memory-sink scaffold (it was copied
    * per query; a checkpoint/trigger/output-mode policy change now has
    * one home). */
  /** THE memory-sink replay scaffold — one definition for every
    * output mode (the r11 consolidation covered the 8 complete-mode
    * copies; this generalization retires the 8 append/update-mode
    * copies too): unique query name, scratch checkpoint, 4 state
    * partitions (harmless for the stateless replays — it only caps
    * the replay's shuffle width), AvailableNow drain, and the sink
    * table back. Only the two `foreachBatch` replays (BPE drift, IVM
    * maintenance) stay bespoke — their sink IS the logic under test. */
  private def runStream(
      s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      prefix: String,
      mode: String,
      finalNoDataBatch: Boolean = true,
  ): org.apache.spark.sql.DataFrame = {
    val name = synchronized { streamN += 1; s"graft_stream_${prefix}_$streamN" }
    // A stateful stream with a watermark runs one extra NO-DATA batch
    // after the last file so watermark-gated state can flush — ~0.4 s
    // of pure commit cadence at replay scale (measured: batch 3,
    // rows=0, triggerExecution 380–460 ms on the funnel). Append-mode
    // windows NEED it (closed sessions emit on that flush); a gate
    // whose state cannot emit on watermark advance (update-mode
    // emissions with a timeout horizon far past the data) passes
    // finalNoDataBatch = false to skip it, for this run only.
    val noData =
      if (finalNoDataBatch) Map.empty[String, String]
      else Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    withStatePartitions(s, 4) {
      withScratchDir(s"graft_ckpt_$prefix") { ckpt =>
        val q = graft.ocsf.Monitor.runToEnd(s, noData) {
          df.writeStream
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(mode)
            .trigger(Trigger.AvailableNow())
            .start()
        }
        if (sys.env.contains("SPARK_GRAFT_STREAM_PROFILE")) {
          q.recentProgress.foreach { p =>
            System.err.println(
              s"[stream-profile] $name batch=${p.batchId} rows=${p.numInputRows} " +
                s"durations=${p.durationMs}")
          }
        }
      }
    }
    s.table(name)
  }

  private def runCompleteStream(
      s: org.apache.spark.sql.SparkSession,
      agg: org.apache.spark.sql.DataFrame,
      prefix: String,
  ): org.apache.spark.sql.DataFrame = runStream(s, agg, prefix, "complete")

  /** Shared scaffold of the CUSUM/EWMA/seasonal streaming twins:
    * replay the events split as a stream, maintain the mergeable
    * per-(key, hour) counts as complete-mode state, and return the
    * FROZEN final state. The localCheckpoint is load-bearing twice
    * over: DeduplicateRelations cannot clone a MemorySink view, and
    * the FromHourly folds read the bounded (keys × hours) snapshot
    * several times (span, keys, grid join) — one snapshot, many
    * reads. One definition so the three twins cannot drift on the
    * state recipe.
    *
    * FROZEN once per (session, corpus) — r17: the six FromHourly twins
    * (cusum, hampel, ewma, holt, holt_winters, seasonal) each replayed
    * the IDENTICAL stream (same split, same aggregation, complete
    * mode) to maintain the same state table, so five of the six
    * replays were pure re-computation. One streaming aggregation
    * maintains the per-(key, hour) counts; every statistic derives
    * from that one maintained state — exactly the production shape
    * (one state store, many dashboard readers), and the same
    * once-per-corpus CSE convention as `minhash_sigs`/`emb_pairs`.
    * Built under the bench's `shared_build` accounting
    * (`events_hourly_state`), which `value_total` now includes. */
  private val hourlyStateTable = Shared("events_hourly_state", Set(
    // the six FromHourly streaming twins
    "stream_cusum", "stream_hampel", "stream_ewma", "stream_holt",
    "stream_holt_winters", "stream_seasonal",
  )) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val hourly = stream
      .groupBy(col("event_type").as("key"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    runCompleteStream(s, hourly, "hourly_state").localCheckpoint()
  }

  /** Streaming CUSUM change-point monitor — the [[rateAnomalyStream]]
    * pattern applied to [[graft.ops.Timeseries]]: the streaming
    * aggregation maintains the mergeable per-(key, hour) counts
    * (bounded at keys × hours), and the inherently-sequential CUSUM
    * recursion is derived batch-side from the final state as a
    * bounded-table fold per trigger. Oracle: the batch recursive-CTE
    * replay, shared verbatim with `evt_cusum_changepoint` — final
    * streaming state ≡ batch hourly table, so the statistic series
    * matches exactly. */
  private val cusumStream = Q(
    "stream_cusum",
    Events.cusumSql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    graft.ops.Timeseries
      .cusumFromHourly(hourlyStateTable(s, d), slackNum = 5, slackDen = 4,
        thresholdMult = 2)
  }

  /** Streaming Hampel outliers — the [[cusumStream]] pattern for
    * [[graft.ops.Timeseries.hampelFromHourly]]: mergeable per-(key,
    * hour) counts as streaming state, the robust rolling-median test
    * derived from the frozen bounded table per trigger. */
  private val hampelStream = Q(
    "stream_hampel",
    Events.hampelSql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    graft.ops.Timeseries.hampelFromHourly(hourlyStateTable(s, d), radius = 2, t = 3)
  }

  /** Streaming EWMA rate smoother — the [[cusumStream]] pattern for
    * [[graft.ops.Timeseries.ewmaFromHourly]]: the streaming aggregation
    * maintains the mergeable per-(key, hour) counts (bounded at keys ×
    * hours), and the sequential smoothing recursion is derived from the
    * final state as a bounded-table fold per trigger. Oracle shared
    * verbatim with `evt_ewma_hourly`: final streaming state ≡ batch
    * hourly table ⇒ identical series. */
  private val ewmaStream = Q(
    "stream_ewma",
    Events.ewmaSql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    graft.ops.Timeseries.ewmaFromHourly(hourlyStateTable(s, d), alphaPpm = 300000)
  }

  /** Streaming bounded top-k: the [[graft.functions.TopKAgg]] custom
    * UDAF as STREAMING aggregation state — per event type, the top-3
    * event ids by (value desc, id) maintained across micro-batches in
    * a k-bounded buffer (the typed-imperative merge path the batch
    * gate `rel_agg_topk_udaf` proves, here exercised through the
    * stateful-aggregation store). State per key is k entries, never
    * the group; the final complete-mode table must equal the batch
    * ordered-list oracle exactly. */
  /** Streaming incremental top-k MAINTENANCE — the streaming twin of
    * `rel_topk_incremental_maintain` ([[graft.ops.Ivm.topKMaintain]]):
    * a GLOBAL leaderboard whose k-row state is merged with each
    * micro-batch's delta through the stateful aggregation store (the
    * same monotone-pruning identity: the new top-k ⊆ stored top-k ∪
    * delta, enforced here by [[graft.functions.TopKAgg]]'s k-bounded
    * buffer). The entries variant keeps (id, score) so the final state
    * rebuilds ranked ROWS without a score-lookup join; oracle is the
    * full batch recompute with the same (value DESC, id) total order. */
  private val topkMaintainStream = Q(
    "stream_topk_maintain",
    """SELECT event_id, value,
      |  CAST(row_number() OVER (ORDER BY value DESC, event_id) AS BIGINT) AS rnk
      |FROM events ORDER BY value DESC, event_id LIMIT 10""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val agg = stream.agg(
      graft.functions.TopKAgg.top_k_entries(10)(col("event_id"), col("value")).as("top"))
    runCompleteStream(s, agg, "topkmaint")
      .localCheckpoint(eager = false)
      .select(posexplode(col("top")).as(Seq("__i", "__e")))
      .select(
        col("__e._1").as("event_id"),
        col("__e._2").as("value"),
        (col("__i") + 1).cast("long").as("rnk"),
      )
  }

  /** Shared FROZEN calibration-histogram state of the two conformal
    * streaming twins (r17, the [[hourlyStateTable]] convention): both
    * gates replayed the IDENTICAL stream (same split, same calibration
    * split, complete mode) to maintain the same per-(segment, value)
    * count state — the global gate's value histogram is exactly that
    * state marginalized over the segment (integer counts, additive, so
    * the roll-up is bit-identical to maintaining the coarser key). One
    * streaming aggregation maintains the finest state; both intervals
    * derive from it — one state store, many readers. Built under the
    * bench's `shared_build` accounting (`events_conformal_state`),
    * which `value_total` includes. */
  private val conformalStateTable =
    Shared("events_conformal_state", Set("stream_conformal", "stream_conformal_by")) { (s, d) =>
      val stream = splitEventsStream(s, d)
      val calHist = stream
        .filter(col("value").isNotNull)
        .filter(graft.ops.Sampling.hashPpm(col("event_id")) < 500000L)
        .groupBy(col("event_type").as("__k"), expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("c"))
      runCompleteStream(s, calHist, "conformal_state").localCheckpoint()
    }

  /** Streaming split-conformal calibration
    * ([[graft.ops.Stats.conformalFromValueHist]]): the calibration
    * VALUE HISTOGRAM is the streaming state — per-value counts are
    * mergeable where raw calibration rows are not (and the cent domain
    * bounds the state) — maintained across the multi-batch replay (via
    * the shared [[conformalStateTable]], marginalized over the
    * segment); mean, residual histogram, conformal rank, and the
    * held-out coverage census derive from the frozen final state
    * through the same code path as the batch gate. Oracle: the full
    * batch replay (final state ≡ batch calibration histogram, so the
    * interval and coverage match exactly). */
  private val conformalStream = Q(
    "stream_conformal",
    """WITH r AS (
      |  SELECT event_id AS id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |sp AS (SELECT id, v,
      |    (CAST(('0x' || substr(md5(coalesce(CAST(id AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |      * 1000000) // 16777216 < 500000 AS cal
      |  FROM r),
      |cm AS (SELECT count(*) AS n_cal,
      |    CAST(sum(CAST(v AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS mean_ppm
      |  FROM sp WHERE cal),
      |res AS (SELECT abs(v * 1000000 - cm.mean_ppm) AS s FROM sp, cm WHERE cal),
      |hist AS (SELECT s, count(*) AS c FROM res GROUP BY 1),
      |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum, sum(c) OVER () AS n FROM hist),
      |q AS (SELECT min(CASE WHEN cum >= ((n + 1) * 900000 + 999999) // 1000000 THEN s END) AS q_ppm
      |      FROM cum)
      |SELECT CAST(cm.n_cal AS BIGINT) AS n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  cm.mean_ppm,
      |  CAST(q.q_ppm AS BIGINT) AS q_ppm,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS coverage_ppm
      |FROM sp, cm, q WHERE NOT sp.cal
      |GROUP BY cm.n_cal, cm.mean_ppm, q.q_ppm""".stripMargin,
  ) { (s, d) =>
    val frozen = conformalStateTable(s, d)
      .groupBy("v")
      .agg(sum(col("c")).as("c"))
    val test = graft.Tables.events(s, d)
      .filter(col("value").isNotNull)
      .filter(!(graft.ops.Sampling.hashPpm(col("event_id")) < 500000L))
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("__v"))
    graft.ops.Stats.conformalFromValueHist(frozen, test, alphaPpm = 100000L)
  }

  /** Streaming PER-SEGMENT conformal calibration
    * ([[graft.ops.Stats.conformalFromValueHistBy]]): the per-(segment,
    * value) calibration histogram is the streaming state (the shared
    * [[conformalStateTable]], consumed at its native key) — still
    * mergeable, still cent-domain-bounded per segment — and each
    * event type derives its own interval and held-out coverage from
    * the frozen state through the same keyed code path as
    * `misc_conformal_by`. Oracle: the full per-key batch replay
    * (final state ≡ per-key batch calibration histogram). */
  private val conformalByStream = Q(
    "stream_conformal_by",
    """WITH r AS (
      |  SELECT event_type AS k, event_id AS id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |sp AS (SELECT k, id, v,
      |    (CAST(('0x' || substr(md5(coalesce(CAST(id AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |      * 1000000) // 16777216 < 500000 AS cal
      |  FROM r),
      |cm AS (SELECT k, count(*) AS n_cal,
      |    CAST(sum(CAST(v AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS mean_ppm
      |  FROM sp WHERE cal GROUP BY 1),
      |res AS (SELECT sp.k, abs(sp.v * 1000000 - cm.mean_ppm) AS s
      |        FROM sp JOIN cm ON cm.k = sp.k WHERE sp.cal),
      |hist AS (SELECT k, s, count(*) AS c FROM res GROUP BY 1, 2),
      |cum AS (SELECT k, s, sum(c) OVER (PARTITION BY k ORDER BY s) AS cum,
      |          sum(c) OVER (PARTITION BY k) AS n
      |        FROM hist),
      |q AS (SELECT k,
      |        min(CASE WHEN cum >= ((n + 1) * 900000 + 999999) // 1000000 THEN s END) AS q_ppm
      |      FROM cum GROUP BY 1)
      |SELECT sp.k AS key, CAST(cm.n_cal AS BIGINT) AS n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  cm.mean_ppm,
      |  CAST(q.q_ppm AS BIGINT) AS q_ppm,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS coverage_ppm
      |FROM sp JOIN cm ON cm.k = sp.k JOIN q ON q.k = sp.k
      |WHERE NOT sp.cal
      |GROUP BY sp.k, cm.n_cal, cm.mean_ppm, q.q_ppm""".stripMargin,
  ) { (s, d) =>
    val frozen = conformalStateTable(s, d)
    val test = graft.Tables.events(s, d)
      .filter(col("value").isNotNull)
      .filter(!(graft.ops.Sampling.hashPpm(col("event_id")) < 500000L))
      .select(col("event_type").as("__k"), expr("CAST(round(value * 100) AS BIGINT)").as("__v"))
    graft.ops.Stats.conformalFromValueHistBy(frozen, test, alphaPpm = 100000L)
  }

  /** Streaming isotonic calibration
    * ([[graft.ops.Stats.isotonicFromHist]]): the per-bucket (pos, n)
    * histogram is the streaming state — two mergeable sums over a
    * value-domain-bounded bucket grid — maintained across the
    * multi-batch replay; the PAVA sweep runs over the frozen final
    * state through the same code path as the batch gates. Fits
    * P(purchase) monotone in the $50-bucketed event value. Oracle: the
    * batch replay of the identical histogram + merge-or-shift
    * recursion (final state ≡ batch histogram, so pools match
    * exactly). */
  private val isotonicStream = Q(
    "stream_isotonic",
    """WITH RECURSIVE
      |h AS (SELECT CAST(round(value * 100) AS BIGINT) // 5000 AS b,
      |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |        count(*) AS n
      |      FROM events WHERE value IS NOT NULL GROUP BY 1),
      |init AS (SELECT list(struct_pack(lo := b, hi := b, pos := pos, n := n) ORDER BY b) AS rem
      |         FROM h),
      |rec AS (
      |  SELECT rem,
      |    CAST([] AS STRUCT(lo BIGINT, hi BIGINT, pos BIGINT, n BIGINT)[]) AS stk,
      |    0 AS step
      |  FROM init
      |  UNION ALL
      |  SELECT
      |    CASE WHEN viol THEN rem ELSE rem[2:] END,
      |    CASE WHEN viol
      |      THEN list_append(stk[:-3],
      |             struct_pack(lo := stk[-2].lo, hi := stk[-1].hi,
      |                         pos := stk[-2].pos + stk[-1].pos, n := stk[-2].n + stk[-1].n))
      |      ELSE list_append(stk, rem[1]) END,
      |    step + 1
      |  FROM (
      |    SELECT rem, stk, step,
      |      len(stk) >= 2 AND CAST(stk[-2].pos AS HUGEINT) * stk[-1].n
      |                          >= CAST(stk[-1].pos AS HUGEINT) * stk[-2].n AS viol
      |    FROM rec)
      |  WHERE viol OR len(rem) > 0),
      |fin AS (
      |  SELECT stk FROM rec
      |  WHERE len(rem) = 0
      |    AND NOT (len(stk) >= 2 AND CAST(stk[-2].pos AS HUGEINT) * stk[-1].n
      |                                 >= CAST(stk[-1].pos AS HUGEINT) * stk[-2].n))
      |SELECT r.lo AS bucket_lo, r.hi AS bucket_hi, r.pos, r.n,
      |  CAST(r.pos * 1000000 // r.n AS BIGINT) AS rate_ppm
      |FROM (SELECT unnest(stk) AS r FROM fin)""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val hist = stream
      .filter(col("value").isNotNull)
      .groupBy(expr("CAST(round(value * 100) AS BIGINT) div 5000").as("b"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("n"),
      )
    val frozen = runCompleteStream(s, hist, "isotonic").localCheckpoint(eager = false)
    graft.ops.Stats.isotonicFromHist(frozen)
  }

  /** Streaming KLL quantile sketch ([[graft.functions.KllAgg]]): the
    * sketch's level ladder is the streaming aggregation state —
    * bounded (O(k·log n) doubles), mergeable across micro-batches by
    * construction (the same merge Spark's partial aggregation uses in
    * the batch gate) — maintained through the multi-batch replay in
    * complete mode; quantiles are evaluated over the FROZEN final
    * sketch. Checked as the `misc_kll_quantiles` error-bound
    * differential: p50/p90 estimates inside the exact [p−0.05, p+0.05]
    * envelope from the batch table, plus the exact total-weight
    * invariant (retained weight ≡ row count — a dropped or
    * double-counted micro-batch flips it). */
  private val kllStream = Q(
    "stream_kll",
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  quantile_cont(CAST(value AS DOUBLE), 0.5) AS exact_p50,
      |  quantile_cont(CAST(value AS DOUBLE), 0.9) AS exact_p90,
      |  TRUE AS weight_matches_n, TRUE AS p50_within_bound, TRUE AS p90_within_bound
      |FROM events WHERE value IS NOT NULL""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val sketch = stream
      .filter(col("value").isNotNull)
      .agg(graft.functions.KllAgg.kll(200)(col("value").cast("double")).as("__sk"))
    val frozen = runCompleteStream(s, sketch, "kll").localCheckpoint(eager = false)
    val exact = graft.Tables.events(s, d)
      .filter(col("value").isNotNull)
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(CAST(value AS DOUBLE), 0.5)").as("exact_p50"),
        expr("percentile(CAST(value AS DOUBLE), 0.9)").as("exact_p90"),
        expr("percentile(CAST(value AS DOUBLE), 0.45)").as("__lo50"),
        expr("percentile(CAST(value AS DOUBLE), 0.55)").as("__hi50"),
        expr("percentile(CAST(value AS DOUBLE), 0.85)").as("__lo90"),
        expr("percentile(CAST(value AS DOUBLE), 0.95)").as("__hi90"),
      )
    frozen
      .crossJoin(exact) // both sides are single-row
      .select(
        col("n"),
        col("exact_p50"),
        col("exact_p90"),
        (expr("aggregate(__sk, CAST(0 AS BIGINT), (a, x) -> a + x.w)") === col("n"))
          .as("weight_matches_n"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.5))
          .between(col("__lo50"), col("__hi50")).as("p50_within_bound"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.9))
          .between(col("__lo90"), col("__hi90")).as("p90_within_bound"),
      )
  }

  /** Per-key streaming KLL ([[kllStream]]'s keyed form, the
    * `stream_conformal_by` convention): one sketch per event type as
    * complete-mode keyed aggregation state; per-key quantiles off the
    * frozen state against each key's own exact envelope. */
  private val kllByStream = Q(
    "stream_kll_by",
    """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n,
      |  quantile_cont(CAST(value AS DOUBLE), 0.5) AS exact_p50,
      |  quantile_cont(CAST(value AS DOUBLE), 0.9) AS exact_p90,
      |  TRUE AS weight_matches_n, TRUE AS p50_within_bound, TRUE AS p90_within_bound
      |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val sketch = stream
      .filter(col("value").isNotNull)
      .groupBy(col("event_type").as("key"))
      .agg(graft.functions.KllAgg.kll(200)(col("value").cast("double")).as("__sk"))
    val frozen = runCompleteStream(s, sketch, "kll_by").localCheckpoint(eager = false)
    val exact = graft.Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type").as("key"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(CAST(value AS DOUBLE), 0.5)").as("exact_p50"),
        expr("percentile(CAST(value AS DOUBLE), 0.9)").as("exact_p90"),
        expr("percentile(CAST(value AS DOUBLE), 0.45)").as("__lo50"),
        expr("percentile(CAST(value AS DOUBLE), 0.55)").as("__hi50"),
        expr("percentile(CAST(value AS DOUBLE), 0.85)").as("__lo90"),
        expr("percentile(CAST(value AS DOUBLE), 0.95)").as("__hi90"),
      )
    frozen
      .join(exact, Seq("key")) // keys are the handful of event types
      .select(
        col("key"),
        col("n"),
        col("exact_p50"),
        col("exact_p90"),
        (expr("aggregate(__sk, CAST(0 AS BIGINT), (a, x) -> a + x.w)") === col("n"))
          .as("weight_matches_n"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.5))
          .between(col("__lo50"), col("__hi50")).as("p50_within_bound"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.9))
          .between(col("__lo90"), col("__hi90")).as("p90_within_bound"),
      )
  }

  private val topkStream = Q(
    "stream_topk",
    """SELECT event_type,
      |  array_to_string((list(event_id ORDER BY value DESC, event_id))[1:3], ',') AS top_events
      |FROM events GROUP BY event_type""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val agg = stream
      .groupBy("event_type")
      .agg(
        array_join(
          graft.functions.TopKAgg.top_k_ids(3)(col("event_id"), col("value")),
          ",",
        ).as("top_events")
      )
    runCompleteStream(s, agg, "topk").localCheckpoint(eager = false)
  }

  /** Streaming approximate distinct: HLL++ buffers as streaming
    * aggregation state (the mergeable-sketch property is exactly what
    * makes approx distinct legal in a stream where exact distinct is
    * not bounded-state). Checked as the `misc_approx_count_distinct`
    * error-bound differential: the final complete-mode estimate per
    * event type must land within 5·rsd of the batch exact distinct
    * (a boolean the oracle expects TRUE — a broken merge flips it);
    * the estimate itself stays out of the compared columns. The bound
    * is 5·rsd, not 3·rsd, because the rsd is only the ASYMPTOTIC
    * standard error — HLL++ bias at small per-key cardinalities can
    * push the realized error past 3σ on an untested SF or
    * distribution, and this gate exists to catch broken merges
    * (≈2× off), not to certify the sketch's error curve (that is
    * `misc_approx_count_distinct`'s job, at its tested SFs). */
  private val approxDistinctStream = Q(
    "stream_approx_distinct",
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val agg = stream
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
    val state = runCompleteStream(s, agg, "acd")
    val exact = graft.Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    state
      .join(exact, Seq("event_type"))
      .select(
        col("event_type"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          lit(5 * 0.05) * col("exact_users").cast("double")).as("within_bound"),
      )
  }

  /** Streaming Holt linear-trend monitor — the [[ewmaStream]] pattern
    * for [[graft.ops.Timeseries.holtFromHourly]]: streaming state is
    * the same mergeable per-(key, hour) counts; the level+trend
    * recursion (inherently sequential, floor-division-exact even on
    * negative trend steps) derives from the frozen final state per
    * trigger. Oracle: the batch gate's recursive CTE verbatim. */
  private val holtStream = Q(
    "stream_holt",
    Events.holtSql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    graft.ops.Timeseries
      .holtFromHourly(hourlyStateTable(s, d), alphaPpm = 300000, betaPpm = 125000)
  }

  /** Streaming Holt–Winters monitor — the [[holtStream]] pattern for
    * [[graft.ops.Timeseries.holtWintersHourly]]: streaming state is
    * the same mergeable per-(key, hour) counts; the level+trend+
    * seasonal recursion (sequential, floor-division-exact, seasonal
    * memory read from the emitted-row accumulator) derives from the
    * frozen final state per trigger. Oracle: the batch gate's
    * recursive CTE verbatim. */
  private val holtWintersStream = Q(
    "stream_holt_winters",
    Events.holtWintersSql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    graft.ops.Timeseries.holtWintersFromHourly(
      hourlyStateTable(s, d),
      alphaPpm = 300000,
      betaPpm = 125000,
      gammaPpm = 200000,
      period = 24,
    )
  }

  /** Streaming seasonal-outlier monitor — the [[cusumStream]]/
    * [[ewmaStream]] pattern for
    * [[graft.ops.Timeseries.seasonalOutliers]]: streaming state is the
    * mergeable per-(key, hour) counts; the dense-grid fill, the
    * hour-of-day census, and the cross-multiplied flag derive from the
    * final state per trigger. Oracle: the batch gate's SQL verbatim. */
  private val seasonalStream = Q(
    "stream_seasonal",
    Events.seasonalSql, // the batch gate's oracle, shared verbatim
  ) { (s, d) =>
    graft.ops.Timeseries.seasonalOutliersFromHourly(hourlyStateTable(s, d), mult = 2)
  }

  /** Streaming column profiler — ingestion data-quality monitoring as
    * a live view: [[graft.ops.Profile.unpivot]] over the replayed
    * events feeds a streaming aggregation of (n, nulls, min, max) per
    * column. Those four statistics merge across micro-batches
    * (counts add, extrema compare — the mergeability that makes them
    * valid streaming state; exact distinct does NOT merge and stays a
    * batch/HLL concern, see misc_profile_approx). State is bounded at
    * k rows. Oracle: the same per-column global aggregates in batch
    * SQL — the final complete-mode state must equal them exactly. */
  private val profileStream = Q(
    "stream_profile",
    """SELECT 'user_id' AS "column", count(*) AS n, count(*) - count(user_id) AS nulls,
      |  CAST(min(user_id) AS BIGINT) AS min_n, CAST(max(user_id) AS BIGINT) AS max_n,
      |  CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
      |FROM events
      |UNION ALL
      |SELECT 'event_id', count(*), count(*) - count(event_id),
      |  CAST(min(event_id) AS BIGINT), CAST(max(event_id) AS BIGINT),
      |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      |FROM events
      |UNION ALL
      |SELECT 'event_type', count(*), count(*) - count(event_type),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), min(event_type), max(event_type)
      |FROM events""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val prof = graft.ops.Profile
      .unpivot(stream, Seq(("user_id", true), ("event_id", true), ("event_type", false)))
      .groupBy("column")
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col("value_s"))).as("nulls"),
        min(col("value_n")).as("min_n"),
        max(col("value_n")).as("max_n"),
        min(when(!col("is_num"), col("value_s"))).as("min_s"),
        max(when(!col("is_num"), col("value_s"))).as("max_s"),
      )
    runCompleteStream(s, prof, "profile")
  }

  /** Streaming distribution-drift monitor — the model-input drift
    * check ([[graft.ops.Stats.distributionDrift]]) run live: the
    * reference equi-depth buckets are computed ONCE in batch and
    * collected (k rows — driver-bounded, the PQ-codebook convention),
    * bucket assignment becomes the map-only
    * [[graft.ops.Stats.bucketOfExpr]] scalar fused into the stream
    * scan, and the streaming state is the per-bucket count — k rows,
    * mergeable across micro-batches (counts add), the same
    * bounded-state argument as [[profileStream]]. The TV statistic
    * needs the global totals, so it is applied to the FINAL k-row
    * state in batch ([[graft.ops.Stats.totalVariationPpm]]) — the
    * [[rateAnomalyStream]] pattern: streaming does the mergeable part,
    * a k-row batch view derives the statistic. Oracle: the batch drift
    * replay (purchase-event value cents vs the all-events reference). */
  private val distDriftStream = Q(
    "stream_dist_drift",
    """WITH cents AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v, event_type FROM events),
      |hist AS (SELECT v AS s, count(*) AS c FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT s, c, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist),
      |ref AS (
      |  SELECT CAST(least(((cum - c) * 8) // n, 7) AS BIGINT) AS bucket,
      |    max(s) AS hi, CAST(sum(c) AS BIGINT) AS ref_cnt
      |  FROM cum GROUP BY 1),
      |curh AS (
      |  SELECT v, count(*) AS c FROM cents WHERE event_type = 'purchase' GROUP BY 1),
      |curb AS (
      |  SELECT coalesce((SELECT min(r.bucket) FROM ref r WHERE x.v <= r.hi), 7) AS bucket,
      |    CAST(sum(c) AS BIGINT) AS cur_cnt
      |  FROM curh x GROUP BY 1),
      |pb AS (
      |  SELECT ref.bucket, ref_cnt, coalesce(cur_cnt, 0) AS cur_cnt
      |  FROM ref LEFT JOIN curb ON ref.bucket = curb.bucket),
      |tot AS (
      |  SELECT CAST(sum(ref_cnt) AS BIGINT) AS n, CAST(sum(cur_cnt) AS BIGINT) AS m FROM pb),
      |tv AS (
      |  SELECT CASE WHEN t.m = 0 THEN 1000000
      |    ELSE CAST((sum(abs(ref_cnt * t.m - cur_cnt * t.n)) * 1000000)
      |      // (2 * t.n * t.m) AS BIGINT)
      |    END AS tv_ppm
      |  FROM pb, tot t GROUP BY t.n, t.m)
      |SELECT bucket, ref_cnt, cur_cnt, (SELECT tv_ppm FROM tv) AS tv_ppm FROM pb""".stripMargin,
  ) { (s, d) =>
    import graft.ops.Stats
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    val ref = Stats
      .equiDepthHistogram(graft.Tables.events(s, d).select(cents.as("v")), "v", 8)
      .select(col("bucket"), col("hi"), col("cnt").as("ref_cnt"))
    val edges = ref
      .orderBy("hi")
      .collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("hi")))
      .toSeq
    val stream = splitEventsStream(s, d)
    val curCounts = stream
      .filter(col("event_type") === "purchase")
      .select(cents.as("v"))
      .filter(col("v").isNotNull)
      .groupBy(Stats.bucketOfExpr(col("v"), edges, 7L).as("bucket"))
      .agg(count(lit(1)).as("cur_cnt"))
    val state = runCompleteStream(s, curCounts, "drift")
    Stats.totalVariationPpm(
      ref
        .join(state, Seq("bucket"), "left")
        .select(col("bucket"), col("ref_cnt"), coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    )
  }

  /** Streaming incremental aggregate maintenance ([[graft.ops.Ivm]]):
    * every micro-batch refreshes a STORED parquet summary from itself
    * alone — `maintain(stored vₙ₋₁, batch) → vₙ` — so each trigger's
    * row-proportional work is the batch, never the history; versioned
    * dirs make the refresh idempotent-by-replacement (the staging
    * convention, minus the claim protocol this scratch gate doesn't
    * need). The final version after the 3-batch replay must equal the
    * one-shot batch aggregate — the algebraic closure the oracle
    * recomputes. This is the foreachBatch shape production IVM takes
    * when the sink must stay a queryable table between triggers (the
    * in-engine alternative is a complete-mode streaming agg, which
    * [[cmsStream]] already exercises). */
  private val ivmStream = Q(
    "stream_agg_maintain",
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(v) AS BIGINT) AS sum_cents, min(v) AS min_cents, max(v) AS max_cents
      |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
      |GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val stream = splitEventsStream(s, d)
    val aggDir  = scratchDir("graft_ivm_agg").toString
    val version = new java.util.concurrent.atomic.AtomicInteger(-1)
    withStatePartitions(s, 4) {
      withScratchDir("graft_ckpt_ivm") { ckpt =>
        graft.ocsf.Monitor.runToEnd(s) {
          stream.writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              val proj = batch.select(
                col("event_type"),
                expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
              )
              val summary = graft.ops.Ivm.summarize(proj, Seq("event_type"), Seq("cents"))
              val prev    = version.get()
              val next =
                if (prev < 0) summary
                else
                  graft.ops.Ivm.merge(
                    batch.sparkSession.read.parquet(s"$aggDir/v=$prev"),
                    summary,
                    Seq("event_type"),
                    Seq("cents"),
                  )
              next.write.mode("overwrite").parquet(s"$aggDir/v=${prev + 1}")
              version.set(prev + 1)
              ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
        }
      }
    }
    s.read
      .parquet(s"$aggDir/v=${version.get()}")
      .select(col("event_type"), col("cnt"), col("sum_cents"), col("min_cents"),
        col("max_cents"))
  }

  val all: Seq[Q] =
    Seq(tumblingStream, intervalJoinStream, leftOuterJoinStream, fullOuterJoinStream,
      reservoirStream,
      decontaminateStream, dedupStream, staticJoinStream, sessionWindowStream, funnelStream,
      cmsStream, bpeDriftStream, rateAnomalyStream, profileStream, distDriftStream, ivmStream,
      cusumStream, ewmaStream, holtStream, holtWintersStream, seasonalStream, topkStream,
      topkMaintainStream, conformalStream, conformalByStream, isotonicStream, approxDistinctStream,
      kllStream, kllByStream, hampelStream)
}
