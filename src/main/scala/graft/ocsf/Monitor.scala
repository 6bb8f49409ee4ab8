package graft.ocsf

import graft.SessionSettings
import graft.io.NioLocalFileSystem
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** ST1–ST4: the file-monitoring ingestion pipeline
  * (`scripts/ocsf_monitor.py:120-342`) as one Structured Streaming
  * query.
  *
  * The reference's scan → validate → ingest → move loop becomes: file
  * source (sorted listing, schema-validated read) → `foreachBatch`
  * landing append → `cleanSource=archive`. `Trigger.AvailableNow`
  * reproduces the one-shot batch mode; a processing-time trigger gives
  * the daemon mode. Checkpointing makes SOURCE PROGRESS exactly-once
  * per file; the foreachBatch side effects are at-least-once (a crash
  * after the landing append but before the checkpoint commit replays
  * the batch with a new loaded_at). The landing layer tolerates that
  * by contract and [[Staging.mergeRun]]'s key upsert absorbs the
  * replayed rows; the append-only [[Staging.incrementalRun]] does not
  * — pair it with re-drop-free sources, or use mergeRun. The
  * reference is at-least-once with no absorption at all.
  *
  * Validation (ST3): the reference shells out to an external schema
  * validator per file; natively, the strict schema plus a corrupt-record
  * column routes malformed documents. Rows whose parse failed are
  * counted per batch and land in `failed/` as JSON for triage — file
  * moves to `processed/` vs `failed/` become row-level routing with the
  * same at-rest outcome.
  *
  * Object stores (S4/S5, `scripts/ocsf_monitor.py:210-342`,
  * `scripts/helpers/gcs_utils.py:64-108`): every path here goes through
  * the Hadoop `FileSystem` API, so `gs://`/`s3a://` sources work by
  * pointing `srcDir`/`archiveDir` at the bucket URI with the connector
  * on the classpath — no code change. MonitorSpec drives the full
  * pipeline (listing, batched iteration, archive renames, checkpoint
  * recovery) through a registered non-`file:` scheme to pin exactly
  * that property.
  */
object Monitor {

  /** One finding per row; `_corrupt` carries unparseable documents.
    *
    * `maxFilesPerTrigger` is the ingestion backpressure valve: it caps
    * each micro-batch's file count so a backlog (an outage, a bulk
    * re-drop) drains in bounded-size batches instead of one giant batch
    * that overwhelms executor memory — the knob to size against
    * executor heap at production scale. */
  def readStream(
      spark: SparkSession,
      srcDir: String,
      archiveDir: Option[String],
      maxFilesPerTrigger: Option[Int] = None,
  ): DataFrame = {
    val base0 = spark.readStream
      .schema(OcsfModel.ocsfFinding.add("_corrupt", "string"))
      .option("multiLine", value = true)
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("pathGlobFilter", "*.ocsf.json")
    val base = maxFilesPerTrigger.fold(base0)(n => base0.option("maxFilesPerTrigger", n))
    val withArchive = archiveDir match {
      case Some(dir) =>
        base
          .option("cleanSource", "archive")
          .option("sourceArchiveDir", dir)
      case None => base
    }
    withArchive.json(srcDir)
  }

  /** Run the pipeline: good rows append to the landing table, corrupt
    * rows are routed to `failedDir`. Returns the started query (call
    * `awaitTermination` / `processAllAvailable`).
    *
    * `metricsPath` (optional) turns on the ingestion observability
    * surface: one [[IngestMetrics]] row per committed batch —
    * good/corrupt row counts and batch duration — the engine analog of
    * the reference's per-file validation timing logs
    * (`scripts/ocsf_monitor.py:98-102`).
    *
    * Every batch is counted the same way, with or without metrics: the
    * counts are observed on the landing write itself, so a batch of
    * good files costs one Spark job (the append) plus the metrics row.
    * Only a batch that holds corrupt rows is pinned in memory, for the
    * failed-row write (batches are bounded by `maxFilesPerTrigger`, so
    * the pin is bounded too). */
  def run(
      spark: SparkSession,
      srcDir: String,
      landingPath: String,
      failedDir: String,
      checkpointDir: String,
      archiveDir: Option[String] = None,
      oneShot: Boolean = true,
      pollInterval: String = "30 seconds",
      maxFilesPerTrigger: Option[Int] = None,
      metricsPath: Option[String] = None,
  ): StreamingQuery = {
    val stream = readStream(spark, srcDir, archiveDir, maxFilesPerTrigger)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val started = System.nanoTime()
        // One aggregation rides the landing write and carries the row
        // counts AND the accepted-values gates (the reference's dbt
        // generic tests, severity_levels.sql / status.sql): the
        // streaming path gets the same CHECK-style contract the batch
        // validators enforce, counted per batch, at no extra scan. It
        // observes the batch before the corrupt-row filter, so the
        // corrupt count comes from the same job.
        def viol(c: String, accepted: Seq[String]) =
          sum(
            when(col("_corrupt").isNull && col(c).isNotNull && !col(c).isin(accepted: _*), 1L)
              .otherwise(0L)
          )
        val obs = Observation()
        val observed = batch.observe(
          obs,
          count(lit(1)).as("rows"),
          count(col("_corrupt")).as("bad"),
          coalesce(viol("severity", Staging.SeverityLevels), lit(0L)).as("sev_bad"),
          coalesce(viol("status", Staging.StatusNames), lit(0L)).as("st_bad"),
        )
        Landing.append(observed.filter(col("_corrupt").isNull).drop("_corrupt"), landingPath)
        val counts = obs.get
        def cnt(name: String) = counts(name).asInstanceOf[Long]
        val badRows = cnt("bad")
        if (badRows > 0) {
          // Spark rejects a raw-JSON scan whose only referenced column
          // is the corrupt-record column, so the failed-row write reads
          // a pinned copy of the batch; batches without corrupt rows
          // are read once
          batch.persist()
          try
            batch.filter(col("_corrupt").isNotNull).select(col("_corrupt"))
              .write.options(NioLocalFileSystem.options).mode("append")
              .text(s"$failedDir/batch_$batchId")
          finally batch.unpersist()
        }
        metricsPath.foreach { mp =>
          val durationMs = (System.nanoTime() - started) / 1000000L
          IngestMetrics.append(spark, mp, batchId, cnt("rows") - badRows, badRows, durationMs,
            severityViolations = cnt("sev_bad"), statusViolations = cnt("st_bad"))
        }
        ()
      }
    val triggered =
      if (oneShot) writer.trigger(Trigger.AvailableNow())
      // Daemon mode (the reference's `--daemon` watch loop,
      // ocsf_monitor.py:120-342): poll the directory on a processing
      // -time cadence until stopped.
      else writer.trigger(Trigger.ProcessingTime(pollInterval))
    // The query runs on a clone of the caller's session, taken in
    // start(). The clone keeps [[StreamSettings]]; the caller's values
    // are restored once it is taken, and the query stays in the
    // caller's `spark.streams`.
    SessionSettings.withSettings(spark, StreamSettings)(triggered.start())
  }

  /** Start a stream under [[StreamSettings]] (plus `settings`), hold
    * them until the stream ends, then restore the caller's values. A
    * stream creates its file source log, offset and commit logs and
    * state stores from its own thread, some on the caller's session;
    * held for the stream's whole life, the settings reach every one of
    * them on every run. For streams that the caller awaits anyway;
    * [[run]] returns its query before it ends. */
  private[graft] def runToEnd(spark: SparkSession, settings: Map[String, String] = Map.empty)(
      start: => StreamingQuery
  ): StreamingQuery =
    SessionSettings.withSettings(spark, StreamSettings ++ settings) {
      val q = start
      q.awaitTermination()
      q
    }

  /** The stream's session settings:
    *  - artifact isolation off. Under Spark's per-session artifact
    *    isolation each clone gets an executor classloader of its own,
    *    and the codegen cache does not serve classes across
    *    classloaders, so a query on an isolated clone compiles its whole
    *    plan again. This pipeline adds no artifacts.
    *  - local paths through [[NioLocalFileSystem]], and the offset and
    *    commit logs through Spark's `FileSystem`-based checkpoint
    *    manager: the default `FileContext` manager renames through
    *    link-status lookups, which fork a process each on the local
    *    filesystem. For local paths both managers check that the batch
    *    file is absent and then rename, so a second writer of a batch
    *    fails the same way under either. Other schemes keep their
    *    filesystems. The file source's own log is created by the
    *    stream thread on the caller's session, so in [[run]] it takes
    *    the caller's settings unless it is created before they are
    *    restored; [[runToEnd]] holds them until the stream ends.
    * Every stream the library starts runs under these settings. */
  private[graft] val StreamSettings: Map[String, String] = NioLocalFileSystem.options ++ Map(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
  )

  /** ST2: graceful shutdown, bounded by `timeoutMs`. Deliberately no
    * drain: `processAllAvailable` can block forever under continuous
    * arrivals (each trigger re-advances the offsets it waits on), and
    * `status.isDataAvailable` is a per-trigger snapshot that goes
    * stale between polls — any drain loop built on either is
    * unbounded or a no-op depending on timing. `stop()` interrupts
    * the current batch; the checkpoint replays it on
    * restart (at-least-once side effects, see the class doc), so nothing is lost — graceful stop is an operator
    * courtesy, not a correctness requirement. Callers that want a
    * fully-drained stop at a quiescent point should call
    * `processAllAvailable()` themselves when they KNOW arrivals have
    * stopped (as the tests do). */
  def stopGracefully(query: StreamingQuery, timeoutMs: Long = 60000L): Boolean = {
    query.stop()
    query.awaitTermination(timeoutMs)
  }
}
