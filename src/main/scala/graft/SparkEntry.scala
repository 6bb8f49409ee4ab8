package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered as a [[Q]]
  * in one of the `graft.queries.*` modules (Spark implementation +
  * DuckDB oracle SQL side by side); this object only aggregates them.
  */
object SparkEntry {

  private def registries: Seq[Q] =
    Relational.all ++ Windows.all ++ Grouping.all ++ Events.all ++ Scalars.all ++
      TextQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      StreamingQueries.all ++ MultimodalQueries.all ++ MiscQueries.all

  /** Every shared artifact, in prewarm order ([[Shared.prewarm]]). */
  def sharedArtifacts: Seq[Shared[_]] =
    DedupQueries.artifacts ++ StreamingQueries.artifacts ++ MiscQueries.artifacts ++
      TextQueries.artifacts ++ Events.artifacts ++ SimilarityQueries.artifacts

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("rel_join_multiway_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registries.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
