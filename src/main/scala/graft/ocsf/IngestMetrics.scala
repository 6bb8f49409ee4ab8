package graft.ocsf

import graft.io.NioLocalFileSystem
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion observability: the queryable metrics table behind
  * `Monitor.run` (the engine analog of the reference's per-file
  * validation/ingest timing logs, `scripts/ocsf_monitor.py:98-102` and
  * `scripts/helpers/logging_utils.py` — there the numbers go to a log
  * stream; here they land as a table so the same engine can query its
  * own ingestion health).
  *
  * One row per committed micro-batch: row counts (good/corrupt), batch
  * duration, and the commit wall-clock. Appended from the driver inside
  * `foreachBatch` — a single-row write per batch, so the metrics cost
  * is independent of data volume (the 100 TB posture: observability
  * overhead must not scale with the data). Restart-safe by the same
  * argument as the landing table: a replayed batch appends a second
  * metrics row with the same `batch_id`, and readers aggregate with
  * last-write-wins per batch (`summary` does) — mirroring the
  * reference's at-least-once log lines.
  */
object IngestMetrics {

  val schema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("good_rows", LongType, nullable = false),
    StructField("corrupt_rows", LongType, nullable = false),
    // CHECK-style accepted-values violations (the reference's dbt
    // generic tests, `tests/generic/severity_levels.sql` / `status.sql`)
    // counted on the STREAMING path per batch — the rows still land
    // (parse-valid, schema-valid), but the contract breach is queryable
    // the moment the batch commits instead of at the next batch
    // dbt-test run. NULLABLE: a metrics table written before these
    // columns existed reads NULL for them (schema-on-read over old
    // parquet); [[read]] coalesces the gap to 0 so the upgrade is
    // restart-transparent — declaring them non-null over files that
    // lack them would be undefined behavior.
    StructField("severity_violations", LongType, nullable = true),
    StructField("status_violations", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = false),
    StructField("completed_at", TimestampType, nullable = false),
  ))

  /** Append one batch's metrics row. Driver-side, O(1) in batch size. */
  def append(
      spark: SparkSession,
      path: String,
      batchId: Long,
      goodRows: Long,
      corruptRows: Long,
      durationMs: Long,
      severityViolations: Long = 0L,
      statusViolations: Long = 0L,
  ): Unit = {
    val row = Row(
      batchId, goodRows, corruptRows, severityViolations, statusViolations, durationMs,
      new java.sql.Timestamp(System.currentTimeMillis()),
    )
    spark
      .createDataFrame(java.util.Collections.singletonList(row), schema)
      .coalesce(1)
      .write
      .options(NioLocalFileSystem.options)
      .mode("append")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(schema)
      .parquet(path)
      // pre-upgrade batches (files without the violation columns) read
      // as zero violations, which is what their writer observed
      .na
      .fill(0L, Seq("severity_violations", "status_violations"))

  /** Per-batch view with at-least-once replays collapsed: a batch
    * replayed after a checkpoint restart appends a second row for the
    * same `batch_id`; the latest attempt (max `completed_at`) is the
    * one whose effects the landing table retains commit-wise, so it is
    * the row reported. */
  def perBatch(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .groupBy(col("batch_id"))
      .agg(max_by(
        struct(col("good_rows"), col("corrupt_rows"), col("severity_violations"),
          col("status_violations"), col("duration_ms"), col("completed_at")),
        col("completed_at"),
      ).as("m"))
      .select(col("batch_id"), col("m.*"))

  /** Whole-pipeline health rollup: totals plus throughput. */
  def summary(spark: SparkSession, path: String): DataFrame =
    perBatch(spark, path).agg(
      count(lit(1)).as("batches"),
      sum("good_rows").as("good_rows"),
      sum("corrupt_rows").as("corrupt_rows"),
      sum("severity_violations").as("severity_violations"),
      sum("status_violations").as("status_violations"),
      sum("duration_ms").as("duration_ms"),
      (sum("good_rows") * lit(1000.0) / greatest(sum("duration_ms"), lit(1L)))
        .as("rows_per_sec"),
    )
}
