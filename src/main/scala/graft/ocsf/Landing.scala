package graft.ocsf

import graft.functions.BoundValue
import graft.io.NioLocalFileSystem
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Landing layer: append-only table of raw OCSF findings
  * (`dbt_project/models/landing/raw_ocsf_findings.sql:24-40`,
  * `scripts/ingest_raw_ocsf_findings.py:78-129`).
  *
  * Postgres heap + one-INSERT-per-row becomes a columnar Parquet append
  * partitioned by `loaded_date`: the batch commit replaces the per-row
  * transactions (the reference's own anti-pattern, SURVEY §4.1), and
  * date partitioning gives the staging watermark scan partition pruning
  * at 100 TB. Duplicates are allowed by contract — no dedup here.
  */
object Landing {

  /** Landing columns: finding_uid, raw (typed struct), raw_json (full
    * fidelity, mirroring the reference keeping the complete document),
    * loaded_at, loaded_date (partition key). The load time reaches
    * generated code as a [[graft.functions.BoundValue]], so each append
    * reuses the previous append's compiled classes. The load day stays
    * a literal: the writer sorts its rows by a partition column unless
    * the column is constant, and the day changes once a day. Both come
    * from the query's one `current_timestamp()`. */
  def prepare(findings: DataFrame): DataFrame = {
    findings
      .select(
        col("finding_info.uid").as("finding_uid"),
        struct(findings.columns.map(col): _*).as("raw"),
        to_json(struct(findings.columns.map(col): _*)).as("raw_json"),
      )
      .withColumn("loaded_at", BoundValue.bound_value(current_timestamp()))
      .withColumn("loaded_date", to_date(current_timestamp()))
  }

  /** S7: batch append (replaces row-at-a-time INSERT). */
  def append(findings: DataFrame, path: String): Unit =
    prepare(findings)
      .write
      .options(NioLocalFileSystem.options)
      .mode("append")
      .partitionBy("loaded_date")
      .parquet(path)

  /** The landing columns as declared: [[prepare]]'s output over the
    * OCSF finding model. Analysis only, no Spark job. Staging reads
    * landing by it: the columns staging uses are all in the model, and
    * a declared read skips [[read]]'s footer merge, a job that touches
    * every landing file. Derived once per process (the analysis takes
    * milliseconds; the types do not depend on session settings). */
  def schema(spark: SparkSession): StructType = {
    if (declared == null)
      declared = prepare(spark.createDataFrame(java.util.Collections.emptyList[Row](),
        OcsfModel.ocsfFinding)).schema
    declared
  }
  @volatile private var declared: StructType = _

  /** Reads with schema merging: the reference's
    * `on_schema_change='append_new_columns'` (SURVEY §1.4 regime 3) —
    * an append that carries new columns widens the read schema; old
    * rows surface NULL for them. For readers of the full evolved
    * document; it reads the footer of every landing file. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", value = true).parquet(path)

  /** Retention cleanup the reference documents as required but leaves
    * unimplemented (`raw_ocsf_findings.sql:33-34` "Data retention
    * policies should be implemented based on loaded_at timestamps"),
    * composed in one listing pass, the landing twin of
    * [[Staging.vacuumVersionsPolicy]]: always retain the newest
    * `keepDays` date partitions; among the rest, drop whole
    * `loaded_date=` partitions strictly older than `cutoff`. The count
    * bound guarantees a replay/debug window regardless of ingest
    * cadence; the date bound enforces the retention policy. `keepDays`
    * is clamped to ≥ 1: the newest partition is never dropped, whatever
    * the arguments — an empty landing dir is unreadable (no schema) and
    * would wedge the next staging run. Partition-level deletion is the
    * 100 TB form — a directory operation per day, never a row scan —
    * and is safe against the staging watermark, which only ever reads
    * forward. Returns dropped dates, oldest first. */
  def retentionVacuumPolicy(
      spark: SparkSession,
      path: String,
      keepDays: Int,
      cutoff: java.time.LocalDate,
  ): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val partitions = fs
      .listStatus(root)
      .toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("loaded_date="))
      .flatMap { s =>
        val date = s.getPath.getName.stripPrefix("loaded_date=")
        scala.util.Try(java.time.LocalDate.parse(date)).toOption.map(_ -> s.getPath)
      }
      .sortBy(_._1)
    val dropped = partitions
      .dropRight(math.max(keepDays, 1))
      .filter(_._1.isBefore(cutoff))
    dropped.foreach { case (_, p) => fs.delete(p, true) }
    dropped.map(_._1.toString)
  }
}
