package graft.ocsf

import graft.SparkTestBase
import graft.SparkTestBase.sha256Hex
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end conversion of the authored sample.sarif fixture (shape per
  * FIXTURES.md §1; content is original). Mirrors the reference's
  * integration tests (`scripts/tests/test_sarif_converter.py:293-440`,
  * `test_sarif_uid_integration.py:53-131`).
  */
class SarifConvertSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark

  private val Now = 1714000000000L

  private lazy val findings = {
    val path = getClass.getResource("/sample.sarif").getPath
    SarifToOcsf.convertFile(spark, path, nowMillis = Some(Now)).cache()
  }

  // The cache lives on the shared test session: release it, or later
  // plans over the same file and clock in this JVM read the cached
  // relation instead of their own plan.
  override def afterAll(): Unit =
    try findings.unpersist()
    finally super.afterAll()

  private lazy val byRule: Map[String, Row] =
    findings
      .collect()
      .map(r => r.getAs[Row]("finding_info").getAs[String]("title").split(":")(0) -> r)
      .toMap

  test("converts all three results") {
    assert(findings.count() === 3)
  }

  test("constant OCSF fields (base_converter.py:41-60)") {
    val r = byRule("RULE001")
    assert(r.getAs[String]("class_name") === "Application Security Posture Finding")
    assert(r.getAs[Int]("class_uid") === 2007)
    assert(r.getAs[Int]("category_uid") === 2)
    assert(r.getAs[String]("category_name") === "Findings")
    assert(r.getAs[Int]("activity_id") === 2)
    assert(r.getAs[String]("activity_name") === "Update")
    assert(r.getAs[Int]("type_uid") === 200702)
    assert(r.getAs[Int]("status_id") === 1)
    assert(r.getAs[String]("status") === "New")
    assert(r.getAs[Long]("time") === Now)
    val meta = r.getAs[Row]("metadata")
    assert(meta.getAs[String]("version") === "1.5.0")
    assert(meta.getAs[Row]("product").getAs[String]("name") === "My Tool")
    assert(meta.getAs[Row]("product").getAs[String]("version") === "1.2.3")
  }

  test("severity map (sarif_to_ocsf.py:48-56)") {
    assert(byRule("RULE001").getAs[Int]("severity_id") === 4)
    assert(byRule("RULE001").getAs[String]("severity") === "Medium")
    assert(byRule("RULE002").getAs[Int]("severity_id") === 5)
    assert(byRule("RULE002").getAs[String]("severity") === "High")
    assert(byRule("RULE003").getAs[Int]("severity_id") === 2)
    assert(byRule("RULE003").getAs[String]("severity") === "Informational")
  }

  test("title from rules lookup, desc snippet fallback (sarif_to_ocsf.py:341-358)") {
    val fi1 = byRule("RULE001").getAs[Row]("finding_info")
    assert(fi1.getAs[String]("title") === "RULE001: Uninitialized variable")
    // no message.text => snippet fallback
    assert(fi1.getAs[String]("desc") === "int x;")
    assert(fi1.getAs[Long]("created_time") === 1709287200000L) // 2024-03-01T10:00:00Z

    val fi2 = byRule("RULE002").getAs[Row]("finding_info")
    assert(fi2.getAs[String]("title") === "RULE002") // rule has no shortDescription
    assert(fi2.getAs[String]("desc") === "SQL injection detected")
  }

  test("fingerprint-based UIDs; hash fallback without fingerprints") {
    // RULE001: fingerprints, latest key csdiff/v1 -> value "bbb"
    val uid1 = byRule("RULE001").getAs[Row]("finding_info").getAs[String]("uid")
    assert(uid1 === s"boann:sast:my-tool:fingerprint:${sha256Hex("bbb")}")
    // RULE002: partialFingerprints fallback -> "xyz"
    val uid2 = byRule("RULE002").getAs[Row]("finding_info").getAs[String]("uid")
    assert(uid2 === s"boann:sast:my-tool:fingerprint:${sha256Hex("xyz")}")
    // RULE003: no fingerprints, no vulnerabilities -> hash fallback with
    // file_uri="" succeeds (finding_uid_generator.py:142-145,270-286):
    // sha256(title \n "" \n desc)
    val uid3 = byRule("RULE003").getAs[Row]("finding_info").getAs[String]("uid")
    assert(uid3 === s"boann:sast:my-tool:hash:${sha256Hex("RULE003\n\nInformational note")}")
  }

  test("hash fallback raises (placeholder kept) only when affected_code is present") {
    // RULE001 without its fingerprints would keep the placeholder: its
    // vulnerabilities[0].affected_code is a list, and the reference's
    // `.get("file", "")` on a list raises -> swallowed -> placeholder
    // (finding_uid_generator.py:106-118). Simulate by stripping the
    // fingerprints enrichment before UID generation.
    import org.apache.spark.sql.functions._
    val path = getClass.getResource("/sample.sarif").getPath
    val noFp = new Enrichment {
      override def name: String = "StripFingerprints"
      override def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.withColumn(
          "enrichments",
          filter(col("enrichments"), e => e.getField("name") =!= "fingerprints"),
        )
    }
    val fs = SarifToOcsf.convert(
      SarifToOcsf.readSarif(spark, path),
      enrichments = Seq(noFp, FindingUidGenerator()),
      enableUidGeneration = false,
      nowMillis = Some(Now),
    )
    val uidByRule = fs
      .collect()
      .map(r => r.getAs[Row]("finding_info").getAs[String]("title").split(":")(0) ->
        r.getAs[Row]("finding_info").getAs[String]("uid"))
      .toMap
    // RULE001/RULE002 have affected_code -> reference hash path raises -> placeholder
    assert(uidByRule("RULE001") === "PLACEHOLDER_UID")
    assert(uidByRule("RULE002") === "PLACEHOLDER_UID")
    // RULE003 has no vulnerabilities -> hash fallback
    assert(uidByRule("RULE003") === s"boann:sast:my-tool:hash:${sha256Hex("RULE003\n\nInformational note")}")
  }

  test("vulnerabilities: rule CWE, properties CWE, UNKNOWN, absent (sarif_to_ocsf.py:370-446)") {
    val v1 = byRule("RULE001").getAs[scala.collection.Seq[Row]]("vulnerabilities")
    assert(v1.length === 1)
    assert(v1.head.getAs[Row]("cwe").getAs[String]("uid") === "CWE-457") // from rule
    val ac = v1.head.getAs[scala.collection.Seq[Row]]("affected_code")
    assert(ac.length === 1)
    assert(ac.head.getAs[Row]("file").getAs[String]("name") === "main.c")
    assert(ac.head.getAs[Row]("file").getAs[String]("path") === "src/app/main.c")
    assert(ac.head.getAs[Row]("file").getAs[Int]("type_id") === 1)
    assert(ac.head.getAs[Int]("start_line") === 42)

    val v2 = byRule("RULE002").getAs[scala.collection.Seq[Row]]("vulnerabilities")
    assert(v2.head.getAs[Row]("cwe").getAs[String]("uid") === "CWE-89") // result properties win

    // RULE003: no CWE, no location => no vulnerabilities at all
    assert(byRule("RULE003").getAs[scala.collection.Seq[Row]]("vulnerabilities") === null)
  }

  test("enrichments: fingerprints + auto scan_metadata + uid_generation, in order") {
    val e1 = byRule("RULE001").getAs[scala.collection.Seq[Row]]("enrichments")
    assert(e1.map(_.getAs[String]("name")) === Seq("fingerprints", "scan_metadata", "uid_generation"))
    val fp = e1.head
    assert(fp.getAs[String]("value") === "SARIF fingerprints")
    assert(fp.getAs[Map[String, String]]("data") === Map("csdiff/v0" -> "aaa", "csdiff/v1" -> "bbb"))
    // scan_run_id fallback: no automationDetails => "<tool>_run_<startTimeUtc>"
    val sm = e1(1)
    assert(sm.getAs[Map[String, String]]("data") === Map("scan_run_id" -> "My Tool_run_2024-03-01T10:00:00Z"))
    val ug = e1(2)
    assert(
      ug.getAs[Map[String, String]]("data") ===
        Map("method" -> "fingerprint", "version" -> "v1", "algorithm" -> "sha256")
    )
    // RULE003: no fingerprints -> hash-method uid_generation after the
    // auto scan_metadata (finding_uid_generator.py:142-145,300-323)
    val e3 = byRule("RULE003").getAs[scala.collection.Seq[Row]]("enrichments")
    assert(e3.map(_.getAs[String]("name")) === Seq("scan_metadata", "uid_generation"))
    assert(e3(1).getAs[Map[String, String]]("data")("method") === "hash")
  }

  test("enable_uid_generation=false leaves every UID as the placeholder") {
    val path = getClass.getResource("/sample.sarif").getPath
    val fs = SarifToOcsf.convert(
      SarifToOcsf.readSarif(spark, path),
      enableUidGeneration = false,
      nowMillis = Some(Now),
    )
    val uids = fs.collect().map(_.getAs[Row]("finding_info").getAs[String]("uid"))
    assert(uids.forall(_ == "PLACEHOLDER_UID"))
  }

  test("U7: custom uidSuffix generator overrides the SAST strategy (finding_uid_generator.py:59-97)") {
    import org.apache.spark.sql.functions._
    val path = getClass.getResource("/sample.sarif").getPath
    val custom = FindingUidGenerator(
      sdlcType = "pentest",
      uidSuffix = Some(df => concat(lit("jira:key:"), upper(col("severity")))),
    )
    val fs = SarifToOcsf.convert(
      SarifToOcsf.readSarif(spark, path),
      enrichments = Seq(custom),
      enableUidGeneration = false,
      nowMillis = Some(Now),
    )
    val uids = fs.collect().map(_.getAs[Row]("finding_info").getAs[String]("uid")).sorted
    assert(uids === Array(
      "boann:pentest:jira:key:HIGH",
      "boann:pentest:jira:key:INFORMATIONAL",
      "boann:pentest:jira:key:MEDIUM",
    ))
  }

  test("writeFindingsArray: oversized input fails on the bounded probe, before any collect") {
    // 5e9 rows would OOM/hang any driver-side collect; the bounded
    // limit(maxRows+1).count() probe makes the guard trip in O(maxRows).
    val huge = spark.range(5000000000L).toDF("id")
    val ex = intercept[IllegalArgumentException] {
      SarifToOcsf.writeFindingsArray(huge, tmpNioPath("huge.ocsf.json"), maxRows = 10)
    }
    assert(ex.getMessage.contains("maxRows=10"))
  }

  test("writeFindingsArray: writes a JSON array the monitor format expects") {
    val out = tmpNioPath("small.ocsf.json")
    SarifToOcsf.writeFindingsArray(findings, out, maxRows = 10)
    val back = spark.read.option("multiLine", true).json(out)
    assert(back.count() === 3)
  }

  /** True when `dt` is, or nests, an array of SARIF results. */
  private def holdsResults(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    dt match {
      case ArrayType(et, _) =>
        DataType.equalsStructurally(et, OcsfModel.sarifResult, ignoreNullability = true) ||
          holdsResults(et)
      case st: StructType   => st.fields.exists(f => holdsResults(f.dataType))
      case MapType(k, v, _) => holdsResults(k) || holdsResults(v)
      case _                => false
    }
  }

  test("convert: no Generate carries a results array into the exploded rows") {
    val path = getClass.getResource("/sample.sarif").getPath
    // optimized from the analyzed plan: `findings` caches this same
    // conversion, and the cache lookup would replace it with a scan of
    // the cached relation
    val analyzed = SarifToOcsf.convertFile(spark, path, nowMillis = Some(Now)).queryExecution.analyzed
    val plan     = spark.sessionState.optimizer.execute(analyzed)
    val generates = plan.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(generates.nonEmpty, plan.treeString)
    generates.foreach { g =>
      val carried = g.requiredChildOutput.filter(a => holdsResults(a.dataType))
      assert(carried.isEmpty, s"Generate ${g.generator.prettyName} carries ${carried.map(_.name)}")
    }
  }

  test("convert: a 4000-result file converts in the test JVM, one finding per result") {
    val planted = 4000
    val rules   = (0 until 20).map(i => s"""{"id": "R$i", "shortDescription": {"text": "rule $i"}}""")
    val results = (0 until planted).map { i =>
      s"""{"ruleId": "R${i % 20}", "level": "warning", "message": {"text": "finding $i in module ${i % 97}"},
         | "locations": [{"physicalLocation": {"artifactLocation": {"uri": "src/m${i % 97}/f$i.c"},
         |   "region": {"startLine": ${i + 1}, "endLine": ${i + 2}}}}],
         | "fingerprints": {"v0": "fp-$i"}}""".stripMargin
    }
    val sarif =
      s"""{"version": "2.1.0", "runs": [{"tool": {"driver": {"name": "Gen", "version": "1",
         |  "rules": [${rules.mkString(",")}]}},
         |  "invocations": [{"startTimeUtc": "2024-03-01T10:00:00Z"}],
         |  "results": [${results.mkString(",\n")}]}]}""".stripMargin
    val path = tmpNioPath("large.sarif")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sarif.getBytes("UTF-8"))
    val rows = SarifToOcsf.convertFile(spark, path, nowMillis = Some(Now)).collect()
    assert(rows.length === planted)
    assert(rows.map(_.getAs[Row]("finding_info").getAs[String]("uid")).distinct.length === planted)
  }

  private def tmpNioPath(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("sarif-spec").toFile
    dir.deleteOnExit()
    new java.io.File(dir, name).getPath
  }

  test("user-supplied ScanMetadataEnrichment suppresses auto-injection (sarif_to_ocsf.py:112-127)") {
    import org.apache.spark.sql.functions.lit
    val path = getClass.getResource("/sample.sarif").getPath
    val fs = SarifToOcsf.convertFile(
      spark,
      path,
      enrichments = Seq(ScanMetadataEnrichment(lit("ci_pipeline_42"))),
      nowMillis = Some(Now),
    )
    val names = fs
      .collect()
      .map(_.getAs[scala.collection.Seq[Row]]("enrichments").filter(_.getAs[String]("name") == "scan_metadata"))
    assert(names.forall(_.length === 1))
    assert(
      names.flatten.forall(
        _.getAs[Map[String, String]]("data") === Map("scan_run_id" -> "ci_pipeline_42")
      )
    )
  }
}
