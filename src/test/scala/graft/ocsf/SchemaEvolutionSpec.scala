package graft.ocsf

import graft.SparkTestBase
import graft.SparkTestBase.tmpDir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §1.4 regime 3: `on_schema_change='append_new_columns'` —
  * appends may carry new columns; existing rows read back as NULL for
  * them, and the staging watermark keeps working across the widened
  * schema.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def doc(uid: String): String =
    s"""{"severity":"High","status":"New","metadata":{"product":{"name":"t","version":"1"},"version":"1.5.0"},
       |"finding_info":{"uid":"$uid","title":"T","desc":"D","created_time":1709287200000}}"""
      .stripMargin.replaceAll("\n", " ")

  test("append_new_columns: widened appends merge; old rows read NULL") {
    val dir  = tmpDir("evolve")
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(doc("u1")).toDS())
    Landing.append(docs, dir)
    // a later producer adds a column
    Landing.append(docs.withColumn("pipeline_version", lit("v2")), dir)

    // the finding document is the `raw` struct; the new field merges there
    val back = Landing.read(spark, dir)
    assert(back.select("raw.*").columns.contains("pipeline_version"))
    val vals =
      back.select("raw.pipeline_version").collect().map(r => Option(r.getString(0))).toSet
    assert(vals === Set(None, Some("v2")))

    // staging still runs over the evolved landing table
    val stagingDir = tmpDir("evolve_stg")
    assert(Staging.incrementalRun(spark, dir, stagingDir) === 2L)
  }

  /** A document that fills every staging column down to the nested
    * fields staging copies whole: CWEs, a CVE, affected code and
    * packages, references and the enrichments staging extracts. */
  private def richDoc(uid: String, run: String): String =
    s"""{"severity":"High","status":"New","activity_name":"Update",
       |"metadata":{"product":{"name":"t","version":"1"},"version":"1.5.0"},
       |"finding_info":{"uid":"$uid","title":"T","desc":"D","created_time":1709287200000,"src_url":"u"},
       |"remediation":{"desc":"fix"},"resources":[{"type":"repo","name":"r"}],
       |"vulnerabilities":[{"cwe":{"uid":"CWE-89"},"cve":{"uid":"CVE-1","related_cwes":[{"uid":"CWE-79"}]},
       |"affected_code":[{"file":{"name":"a.c","path":"src/a.c","type_id":1},"start_line":3,"end_line":5}],
       |"affected_packages":[{"name":"p"}],"references":["x"]}],
       |"enrichments":[{"name":"scan_metadata","type":"custom","value":"m","data":{"scan_run_id":"$run"}},
       |{"name":"rh_sdlc_source","value":"sast"},
       |{"name":"affected_components","type":"c","value":"comp","data":{"k":"v"}},
       |{"name":"jira_status","type":"j","value":"Open","data":{"key":"J-1"}}]}"""
      .stripMargin.replaceAll("\n", " ")

  private def docs(pairs: (String, String)*): DataFrame =
    spark.read.schema(OcsfModel.ocsfFinding).json(pairs.map { case (u, r) => richDoc(u, r) }.toDS())

  /** Row count and an order-independent content hash, without the load
    * timestamp (map-typed columns hash through their JSON form). */
  private def countAndHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.schema.fields.filter(_.name != "staging_loaded_at").sortBy(_.name)
      .map(f => to_json(struct(col(f.name))))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  test("declared-schema staging over an evolved landing table equals a keyed rebuild over the merged read") {
    val landing = tmpDir("evolve_decl")
    val root    = tmpDir("evolve_decl_stg")
    Landing.append(docs("d1" -> "r1", "d2" -> "r1"), landing)
    Staging.mergeRun(spark, landing, root)
    // a widened append: the finding document gains a field
    Landing.append(docs("d2" -> "r1", "d3" -> "r2").withColumn("pipeline_version", lit("v2")), landing)
    Staging.mergeRun(spark, landing, root)
    // a narrower file: a producer that omits remediation and resources
    Landing.append(docs("d1" -> "r1", "d4" -> "r2").drop("remediation", "resources"), landing)
    val written = Staging.mergeRun(spark, landing, root)

    val merged = Landing.read(spark, landing)
    assert(merged.select("raw.*").columns.contains("pipeline_version"))
    val rebuilt = Staging.transform(merged)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("finding_uid", "scan_run_id").orderBy(col("staging_loaded_at").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    val want = countAndHash(rebuilt)
    assert(want._1 === 4L)
    assert(written === want._1)
    val version = Staging.currentVersion(spark, root).get
    // the snapshot as written, read back with an inferred schema ...
    assert(countAndHash(spark.read.parquet(s"$root/v=$version")) === want)
    // ... and the declared-schema read every consumer uses
    assert(countAndHash(Staging.readCurrent(spark, root).get) === want)
    // the narrower file's rows are the latest for d1 and read NULL where it had no field
    val d1 = Staging.readCurrent(spark, root).get.filter(col("finding_uid") === "d1").head()
    assert(d1.getAs[String]("finding_remediation") === null)
    assert(d1.getAs[Seq[_]]("finding_cwes") === Seq("CWE-79", "CWE-89"))
  }
}
