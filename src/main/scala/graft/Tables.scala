package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided synthetic star schema
  * (`/root/repo/TESTDATA.md`). One parquet file per table; the scale
  * factor directory is passed through from the harness so every query
  * is scale-independent.
  */
object Tables {
  /** A table read by its file's [[schema]]: no footer job. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers for a table file,
    * derived once per process. Inference runs a one-task Spark job that
    * reads the footer; the schema belongs to the file, so one inference
    * serves every session. The key is what the inferred schema depends
    * on: the file's absolute path, length and modification time (a file
    * rewritten in place is inferred again) and the session's
    * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` values
    * (`nanosAsLong`, which [[events]] sets, changes the type of a
    * nanosecond `ts`). */
  def schema(spark: SparkSession, path: String): StructType = {
    val p      = new Path(path)
    val fs     = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val readerConf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val key = (fs.makeQualified(p).toString, status.getLen, status.getModificationTime, readerConf)
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }
  private val schemas = new ConcurrentHashMap[(String, Long, Long, Seq[(String, String)]), StructType]

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (rejected by Spark's
    * vectorized reader, so read as raw nanos via `nanosAsLong` and
    * truncated to micros — DuckDB's ingest behavior) and plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize both to a
    * session-zone TIMESTAMP at microsecond precision so every query —
    * and the oracle comparison — sees one type regardless of which
    * generator produced the files. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
