package graft.ocsf

import graft.SparkTestBase
import graft.SparkTestBase.tmpDir
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Landing → staging transformation against the 20-column contract
  * (`dbt_project/models/schema.yaml:74-182`; FIXTURES.md §4), including
  * the richer document shapes (CVEs, related CWEs, packages, references,
  * downstream enrichments) the converter alone does not produce.
  */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** A hand-built OCSF document exercising every staging column. */
  private val richFinding =
    """{
      |  "severity": "High", "status": "New", "activity_name": "Update",
      |  "metadata": {"product": {"name": "snyk", "version": "9.9"}, "version": "1.5.0"},
      |  "finding_info": {"uid": "boann:sast:snyk:fingerprint:abc", "title": "T", "desc": "D",
      |                    "created_time": 1709287200000, "src_url": "https://example.com/f/1"},
      |  "remediation": {"desc": "upgrade the dependency"},
      |  "vulnerabilities": [
      |    {"cwe": {"uid": "CWE-89"},
      |     "cve": {"uid": "CVE-2024-0001", "related_cwes": [{"uid": "CWE-79"}, {"uid": "CWE-20"}]},
      |     "affected_code": [{"file": {"name": "a.c", "path": "src/a.c", "type_id": 1}, "start_line": 1, "end_line": 2}],
      |     "affected_packages": [{"name": "libfoo"}],
      |     "references": ["https://nvd.example/CVE-2024-0001", "https://osv.example/x"]},
      |    {"cwe": {"uid": "CWE-89"},
      |     "cve": {"uid": "CVE-2024-0001"},
      |     "affected_packages": [{"name": "libbar"}],
      |     "references": ["https://nvd.example/CVE-2024-0001"]}
      |  ],
      |  "enrichments": [
      |    {"name": "scan_metadata", "type": "custom", "value": "Scan metadata", "data": {"scan_run_id": "run-7"}},
      |    {"name": "rh_sdlc_source", "value": "sast"},
      |    {"name": "affected_components", "value": "comp-a"},
      |    {"name": "jira_status", "value": "In Progress"}
      |  ]
      |}""".stripMargin.replaceAll("\n", " ")

  private lazy val stagingRows: Array[Row] = {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir = tmpDir("landing")
    val stagingDir = tmpDir("staging")
    Landing.append(docs, landingDir)
    Staging.incrementalRun(spark, landingDir, stagingDir)
    spark.read.parquet(stagingDir).collect()
  }

  test("scalar extractions") {
    val r = stagingRows.head
    assert(r.getAs[String]("finding_uid") === "boann:sast:snyk:fingerprint:abc")
    assert(r.getAs[String]("tool_name") === "snyk")
    assert(r.getAs[String]("tool_version") === "9.9")
    assert(r.getAs[String]("scan_run_id") === "run-7")
    assert(r.getAs[java.sql.Timestamp]("detected_at").toInstant.toEpochMilli === 1709287200000L)
    assert(r.getAs[String]("finding_title") === "T")
    assert(r.getAs[String]("finding_description") === "D")
    assert(r.getAs[String]("finding_src_url") === "https://example.com/f/1")
    assert(r.getAs[String]("finding_severity") === "High")
    assert(r.getAs[String]("finding_status") === "New")
    assert(r.getAs[String]("finding_activity_name") === "Update")
    assert(r.getAs[String]("finding_remediation") === "upgrade the dependency")
    assert(r.getAs[String]("finding_source") === "sast")
  }

  test("array re-aggregations: distinct + sorted (A2/A3/T1)") {
    val r = stagingRows.head
    // direct CWE-89 (x2, deduped) ∪ related CWE-79, CWE-20 — sorted
    assert(r.getAs[scala.collection.Seq[String]]("finding_cwes") === Seq("CWE-20", "CWE-79", "CWE-89"))
    assert(r.getAs[scala.collection.Seq[String]]("finding_cves") === Seq("CVE-2024-0001"))
    assert(
      r.getAs[scala.collection.Seq[String]]("finding_references") ===
        Seq("https://nvd.example/CVE-2024-0001", "https://osv.example/x")
    )
    val pkgs = r.getAs[scala.collection.Seq[Row]]("affected_packages_jsonb")
    assert(pkgs.map(_.getAs[String]("name")) === Seq("libfoo", "libbar"))
    val subset = r.getAs[scala.collection.Seq[Row]]("vulnerabilities_subset_jsonb")
    assert(subset.length === 2)
    assert(subset.head.getAs[scala.collection.Seq[Row]]("affected_code").nonEmpty)
    assert(subset(1).getAs[scala.collection.Seq[Row]]("affected_code") === null)
  }

  test("first-match enrichment extracts (A5)") {
    val r  = stagingRows.head
    val ac = r.getAs[Row]("enrichments_affected_components_jsonb")
    assert(ac.getAs[String]("name") === "affected_components")
    assert(ac.getAs[String]("value") === "comp-a")
    val js = r.getAs[Row]("enrichments_jira_status_jsonb")
    assert(js.getAs[String]("value") === "In Progress")
  }

  test("jsonb_agg-over-zero-rows is NULL; resources defaults to []") {
    import spark.implicits._
    val bare =
      """{"severity":"Low","status":"New","metadata":{"product":{"name":"t"},"version":"1.5.0"},
        |"finding_info":{"uid":"u","title":"t","desc":"d","created_time":0}}""".stripMargin
        .replaceAll("\n", " ")
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(bare).toDS())
    val landingDir = tmpDir("landing2")
    Landing.append(docs, landingDir)
    val row = Staging.transform(Landing.read(spark, landingDir)).head()
    assert(row.getAs[scala.collection.Seq[Row]]("resources_jsonb") === Seq.empty)
    assert(row.getAs[scala.collection.Seq[Row]]("affected_packages_jsonb") === null)
    assert(row.getAs[scala.collection.Seq[Row]]("vulnerabilities_subset_jsonb") === null)
    assert(row.getAs[scala.collection.Seq[String]]("finding_cwes") === null)
    assert(row.getAs[java.sql.Timestamp]("detected_at") === null) // created_time=0 ⇒ NULL
    assert(row.getAs[String]("scan_run_id") === null)
  }

  test("incremental watermark: re-running without new data appends nothing") {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir = tmpDir("landing3")
    val stagingDir = tmpDir("staging3")
    Landing.append(docs, landingDir)
    val n1 = Staging.incrementalRun(spark, landingDir, stagingDir)
    val n2 = Staging.incrementalRun(spark, landingDir, stagingDir)
    // incrementalRun returns the APPENDED batch's count (observed on the
    // write itself), so a no-op run is distinguishable from a 1-row run.
    assert(n1 === 1L)
    assert(n2 === 0L) // watermark filtered everything; nothing appended
    assert(spark.read.parquet(stagingDir).count() === 1L) // and no duplicates
    // new landing rows flow through on the next run
    Landing.append(docs, landingDir)
    val n3 = Staging.incrementalRun(spark, landingDir, stagingDir)
    assert(n3 === 1L)
    assert(spark.read.parquet(stagingDir).count() === 2L)
  }

  test("age-based version vacuum drops old superseded versions, never the active or newest") {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_av")
    val stagingRoot = tmpDir("staging_av")
    Landing.append(docs, landingDir)
    (1 to 3).foreach(_ => Staging.mergeRun(spark, landingDir, stagingRoot))
    assert(Staging.currentVersion(spark, stagingRoot) === Some(2L))

    // age every snapshot 10 days, then point _CURRENT at v=1: v=1 is
    // active, v=2 is newest — only v=0 may be vacuumed
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - java.time.Duration.ofDays(10).toMillis
    )
    (0 to 2).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(stagingRoot, s"v=$v", "_SUCCESS"), old)
    }
    // rewrite the pointer through the Hadoop FS so its .crc sidecar stays valid
    val fs = new org.apache.hadoop.fs.Path(stagingRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(stagingRoot, "_CURRENT"), true)
    out.write("1".getBytes); out.close()

    val dropped =
      Staging.vacuumVersionsPolicy(spark, stagingRoot, keep = 1, java.time.Duration.ofDays(7))
    assert(dropped === Seq(0L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stagingRoot, "v=0")))
    assert(Staging.readCurrent(spark, stagingRoot).get.count() === 1L)

    // fresh snapshots are untouched even with maxAge=0 … except
    // superseded ones older than the cutoff; here nothing qualifies
    // once only active+newest remain
    assert(Staging.vacuumVersionsPolicy(spark, stagingRoot, keep = 1, java.time.Duration.ZERO) ===
      Seq.empty)
  }

  test("vacuumAbandoned: stale never-committed dirs above the pointer drop; claimed/young/committed survive") {
    import spark.implicits._
    val docs        = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_ab")
    val stagingRoot = tmpDir("staging_ab")
    Landing.append(docs, landingDir)
    Staging.mergeRun(spark, landingDir, stagingRoot) // commits v=0, pointer -> 0

    def mkAbandoned(v: Long, ageMs: Long, claimed: Boolean = false): Unit = {
      val dir = java.nio.file.Paths.get(stagingRoot, s"v=$v")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("part-0.parquet"), Array[Byte](1))
      java.nio.file.Files.setLastModifiedTime(
        dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
      if (claimed)
        java.nio.file.Files.write(java.nio.file.Paths.get(stagingRoot, s"_CLAIM_v$v"), Array[Byte]())
    }
    mkAbandoned(7, ageMs = 3600_000L)                  // stale, unclaimed -> dropped
    mkAbandoned(8, ageMs = 0L)                         // young (in-flight window) -> kept
    mkAbandoned(9, ageMs = 3600_000L, claimed = true)  // claimed -> kept

    val dropped = Staging.vacuumAbandoned(spark, stagingRoot, java.time.Duration.ofMinutes(10))
    assert(dropped === Seq(7L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stagingRoot, "v=7")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(stagingRoot, "v=8")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(stagingRoot, "v=9")))
    // committed snapshot untouched, still readable through the pointer
    assert(Staging.readCurrent(spark, stagingRoot).get.count() === 1L)
    // with no pointer, nothing is provably abandoned: no-op
    val bare = tmpDir("staging_ab2")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bare, "v=3"))
    assert(Staging.vacuumAbandoned(spark, bare, java.time.Duration.ZERO) === Seq.empty)
  }

  test("composed retention policy: count window shields versions the age bound would drop") {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_pol")
    val stagingRoot = tmpDir("staging_pol")
    Landing.append(docs, landingDir)
    (1 to 4).foreach(_ => Staging.mergeRun(spark, landingDir, stagingRoot))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - java.time.Duration.ofDays(10).toMillis
    )
    (0 to 3).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(stagingRoot, s"v=$v", "_SUCCESS"), old)
    }
    // all four versions exceed maxAge, but keep=3 shields v=1..3 (and
    // v=3 is active anyway); only v=0 goes
    val dropped =
      Staging.vacuumVersionsPolicy(spark, stagingRoot, keep = 3, java.time.Duration.ofDays(7))
    assert(dropped === Seq(0L))
    assert(Staging.readCurrent(spark, stagingRoot).get.count() === 1L)
  }

  test("constraint installed on a fresh root does not brick ingestion") {
    import spark.implicits._
    // natural Postgres-macro order: install the constraint first, then
    // ingest — the dir then holds only the _UID_PATTERN side file, which
    // must read as an empty table, not UNABLE_TO_INFER_SCHEMA
    val landingDir = tmpDir("landing_fresh")
    val stagingDir = tmpDir("staging_fresh") + "/tbl"
    assert(Staging.reconcileUidConstraint(spark, stagingDir, Some("^boann:.*$")))
    // re-install a different pattern on the still-empty root: no rows to
    // violate, must succeed rather than crash reading the side file as parquet
    assert(Staging.reconcileUidConstraint(spark, stagingDir, Some("^boann:sast:.*$")))
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    Landing.append(docs, landingDir)
    assert(Staging.incrementalRun(spark, landingDir, stagingDir) === 1L)
    assert(spark.read.parquet(stagingDir).count() === 1L)
  }

  test("UID constraint reconciliation: install, no-op, tightened pattern surfaces existing rows") {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir = tmpDir("landing_c")
    val stagingDir = tmpDir("staging_c")
    Landing.append(docs, landingDir)
    Staging.incrementalRun(spark, landingDir, stagingDir)

    // None → skip entirely (generic upstream: no constraint installed)
    assert(!Staging.reconcileUidConstraint(spark, stagingDir, None))
    assert(Staging.storedUidPattern(spark, stagingDir) === None)

    // install: existing row matches → pattern stored
    val loose = "^boann:[^:]+:[^:]+:[^:]+:.+$"
    assert(Staging.reconcileUidConstraint(spark, stagingDir, Some(loose)))
    assert(Staging.storedUidPattern(spark, stagingDir) === Some(loose))
    // unchanged → no-op
    assert(!Staging.reconcileUidConstraint(spark, stagingDir, Some(loose)))

    // tightening to a pattern the existing row violates fails loud with
    // a sample, and leaves the old pattern installed (macro's
    // intentional CHECK violation on ALTER TABLE)
    val ex = intercept[IllegalStateException] {
      Staging.reconcileUidConstraint(spark, stagingDir, Some("^acme:.+$"))
    }
    assert(ex.getMessage.contains("boann:sast:snyk:fingerprint:abc"))
    assert(Staging.storedUidPattern(spark, stagingDir) === Some(loose))
  }

  test("installed UID pattern is enforced on insert: violating batch aborts, table untouched") {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir = tmpDir("landing_e")
    val stagingDir = tmpDir("staging_e")
    Landing.append(docs, landingDir)
    Staging.incrementalRun(spark, landingDir, stagingDir)
    Staging.reconcileUidConstraint(spark, stagingDir, Some("^boann:sast:.+$"))

    // a violating finding arrives: the write job itself must fail...
    val badDoc = richFinding.replace("boann:sast:snyk:fingerprint:abc", "rogue:uid")
    Landing.append(spark.read.schema(OcsfModel.ocsfFinding).json(Seq(badDoc).toDS()), landingDir)
    val ex = intercept[Exception] {
      Staging.incrementalRun(spark, landingDir, stagingDir)
    }
    assert(ex.getMessage.contains("rogue:uid") ||
      Option(ex.getCause).exists(_.getMessage.contains("rogue:uid")))
    // ...and abort BEFORE commit: nothing appended
    assert(spark.read.parquet(stagingDir).count() === 1L)
  }

  test("mergeRun upsert is NULL-safe: findings without scan_metadata replace, not duplicate") {
    import spark.implicits._
    // no scan_metadata enrichment => scan_run_id stages as NULL; plain
    // equi-join keys never match NULL = NULL, so only a null-safe (<=>)
    // anti-join keeps the upsert contract for this supported shape
    val noRunId = richFinding.replace(
      """{"name": "scan_metadata", "type": "custom", "value": "Scan metadata", "data": {"scan_run_id": "run-7"}},""",
      "")
    val docs        = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(noRunId).toDS())
    val landingDir  = tmpDir("landing_nk")
    val stagingRoot = tmpDir("staging_nk")
    Landing.append(docs, landingDir)
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 1L)
    val first = Staging.readCurrent(spark, stagingRoot).get
    assert(first.count() === 1L)
    assert(first.select("scan_run_id").head().isNullAt(0), "fixture must stage a NULL scan_run_id")

    // re-ingest: the NULL-keyed row must be REPLACED, never doubled
    Landing.append(docs, landingDir)
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 1L)
    val cur = Staging.readCurrent(spark, stagingRoot).get
    assert(cur.count() === 1L, "NULL scan_run_id re-ingestion duplicated the staging row")
    val reloaded = cur.select("staging_loaded_at").head().getTimestamp(0)
    val landingMax = Landing.read(spark, landingDir)
      .agg(org.apache.spark.sql.functions.max("loaded_at")).head().getTimestamp(0)
    assert(reloaded === landingMax, "the surviving row must be the newest load")
  }

  test("mergeRun upserts on (finding_uid, scan_run_id): reingestion replaces, not duplicates") {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_m")
    val stagingRoot = tmpDir("staging_m")
    Landing.append(docs, landingDir)
    val n1 = Staging.mergeRun(spark, landingDir, stagingRoot)
    assert(n1 === 1L)
    assert(Staging.currentVersion(spark, stagingRoot) === Some(0L))

    // reingest the same finding (same uid + scan_run_id, fresh loaded_at):
    // incrementalRun would duplicate; mergeRun replaces
    Landing.append(docs, landingDir)
    val n2 = Staging.mergeRun(spark, landingDir, stagingRoot)
    assert(n2 === 1L)
    assert(Staging.currentVersion(spark, stagingRoot) === Some(1L))
    val cur = Staging.readCurrent(spark, stagingRoot).get
    // the surviving row is the NEW load (latest staging_loaded_at)
    val reloaded = cur.select("staging_loaded_at").head().getTimestamp(0)
    val landingMax = Landing.read(spark, landingDir)
      .agg(org.apache.spark.sql.functions.max("loaded_at")).head().getTimestamp(0)
    assert(reloaded === landingMax)

    // a different scan_run_id is a NEW row, not a replacement
    val otherRun = richFinding.replace("run-7", "run-8")
    val docs2 = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(otherRun).toDS())
    Landing.append(docs2, landingDir)
    val n3 = Staging.mergeRun(spark, landingDir, stagingRoot)
    assert(n3 === 2L)

    // no-new-data run is a no-op version that still reads consistently
    val n4 = Staging.mergeRun(spark, landingDir, stagingRoot)
    assert(n4 === 2L)

    // vacuum keeps the active version readable
    Staging.vacuumVersionsPolicy(spark, stagingRoot, keep = 1, java.time.Duration.ZERO)
    assert(Staging.readCurrent(spark, stagingRoot).get.count() === 2L)
  }

  test("mergeRun single-writer CAS: a concurrent commit fails the late writer loudly") {
    import spark.implicits._
    val docs        = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_cas")
    val stagingRoot = tmpDir("staging_cas")
    Landing.append(docs, landingDir)
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 1L) // v=0, ptr=0

    // Another writer commits while this run is compacting: simulated by
    // moving the pointer inside the pre-commit window (through the
    // Hadoop FS — the local fs is checksummed, a raw java.nio write
    // would leave a stale .crc). The late writer must abort loudly,
    // leaving the other writer's pointer intact.
    def movePointer(): Unit = {
      val root = new org.apache.hadoop.fs.Path(stagingRoot)
      val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out  = fs.create(new org.apache.hadoop.fs.Path(root, "_CURRENT"), true)
      out.write("7".getBytes("UTF-8"))
      out.close()
    }
    Landing.append(docs, landingDir)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Staging.mergeRun(spark, landingDir, stagingRoot, () => movePointer())
    }
    assert(ex.getMessage.contains("_CURRENT moved"))
    assert(Staging.currentVersion(spark, stagingRoot) === Some(7L))
  }

  test("mergeRun commit lock: a held _COMMIT_LOCK aborts the commit, then releases cleanly") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val docs        = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_lock")
    val stagingRoot = tmpDir("staging_lock")
    Landing.append(docs, landingDir)
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 1L)

    Files.createDirectories(Paths.get(stagingRoot))
    Files.createFile(Paths.get(stagingRoot, "_COMMIT_LOCK"))
    Landing.append(docs, landingDir)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Staging.mergeRun(spark, landingDir, stagingRoot)
    }
    assert(ex.getMessage.contains("_COMMIT_LOCK"))
    // pointer unmoved by the failed commit
    assert(Staging.currentVersion(spark, stagingRoot) === Some(0L))

    // lock released (crash-cleanup path): the next run commits normally
    Files.delete(Paths.get(stagingRoot, "_COMMIT_LOCK"))
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 1L)
    assert(Staging.currentVersion(spark, stagingRoot).exists(_ > 0L))
  }

  test("version allocation: held claims are skipped, stray v= entries don't crash") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val docs        = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_claim")
    val stagingRoot = tmpDir("staging_claim")
    Landing.append(docs, landingDir)
    Staging.mergeRun(spark, landingDir, stagingRoot) // v=0
    // another writer holds the claim on v=1; a stray non-numeric v=
    // entry (operator backup) must be ignored, not parsed
    Files.createFile(Paths.get(stagingRoot, "_CLAIM_v1"))
    Files.createDirectories(Paths.get(stagingRoot, "v=backup"))
    Landing.append(docs, landingDir)
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 1L)
    // the held claim pushed this run to v=2; pointer follows
    assert(Staging.currentVersion(spark, stagingRoot) === Some(2L))
    assert(Files.exists(Paths.get(stagingRoot, "_CLAIM_v1")), "foreign claim must not be released")
    assert(!Files.exists(Paths.get(stagingRoot, "_CLAIM_v2")), "own claim must be released")
  }

  test("chaos: two interleaved mergeRuns racing compaction, 100 schedules, no lost or clobbered commit") {
    // The multi-writer drill behind the single-writer claim: every
    // schedule races two full mergeRuns (claim → compact → CAS commit)
    // from randomized offsets, with a seeded chaos delay injected into
    // each writer's pre-commit window (the TOCTOU window the claim
    // re-check and pointer CAS guard). Invariants per schedule:
    //   1. at least one writer commits; a loser fails ONLY with the
    //      loud ConcurrentModificationException (never silently);
    //   2. the committed snapshot is complete — every landed key is in
    //      the current version (no lost update, no torn snapshot);
    //   3. the commit lock and both claim files are released;
    //   4. the pointer only ever advances.
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val landingDir  = tmpDir("landing_chaos")
    val stagingRoot = tmpDir("staging_chaos")
    val rnd         = new scala.util.Random(42)
    val iterations  = 100
    var committed   = -1L
    var expectRows  = 0L

    def appendDoc(i: Int): Unit = {
      val doc = richFinding
        .replace("boann:sast:snyk:fingerprint:abc", s"boann:sast:snyk:fingerprint:chaos$i")
      Landing.append(spark.read.schema(OcsfModel.ocsfFinding).json(Seq(doc).toDS()), landingDir)
      expectRows += 1
    }

    appendDoc(0)
    (1 to iterations).foreach { i =>
      // fresh data on a third of the schedules: races over both
      // data-carrying and no-op compactions
      if (i % 3 == 0) appendDoc(i)
      val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Long]]()
      val delays  = Array.fill(4)(rnd.nextInt(40).toLong)
      val threads = (0 to 1).map { w =>
        new Thread(() => {
          try {
            Thread.sleep(delays(w))
            val n = Staging.mergeRun(
              spark, landingDir, stagingRoot,
              () => Thread.sleep(delays(2 + w)), // chaos inside the pre-commit window
            )
            results.put(w, Right(n))
          } catch { case t: Throwable => results.put(w, Left(t)) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      val outcomes = (0 to 1).map(results.get)
      val wins     = outcomes.collect { case Right(n) => n }
      val losses   = outcomes.collect { case Left(t) => t }
      assert(wins.nonEmpty, s"iter $i: both writers failed: ${losses.map(_.toString)}")
      losses.foreach { t =>
        assert(
          t.isInstanceOf[java.util.ConcurrentModificationException],
          s"iter $i: loser must fail loudly with CME, got $t",
        )
      }
      wins.foreach(n => assert(n === expectRows, s"iter $i: winner wrote $n of $expectRows rows"))

      val ptr = Staging.currentVersion(spark, stagingRoot)
      assert(ptr.exists(_ > committed), s"iter $i: pointer $ptr did not advance past $committed")
      committed = ptr.get
      val lock = Paths.get(stagingRoot, "_COMMIT_LOCK")
      assert(!Files.exists(lock), s"iter $i: commit lock leaked")
      val claims = Files.list(Paths.get(stagingRoot)).toArray
        .map(_.toString).filter(_.contains("_CLAIM_"))
      assert(claims.isEmpty, s"iter $i: leaked claims: ${claims.mkString(",")}")
      // bound the version-dir population so listing stays O(keep)
      if (i % 20 == 0)
        Staging.vacuumVersionsPolicy(spark, stagingRoot, keep = 2, java.time.Duration.ZERO)
    }
    // the final snapshot is the complete merge of everything landed
    val cur = Staging.readCurrent(spark, stagingRoot).get
    assert(cur.count() === expectRows)
    assert(cur.select("finding_uid").distinct().count() === expectRows)
  }

  test("installed UID pattern is enforced at mergeRun compaction time too") {
    import spark.implicits._
    val docs        = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir  = tmpDir("landing_mpat")
    val stagingRoot = tmpDir("staging_mpat")
    Landing.append(docs, landingDir)
    Staging.mergeRun(spark, landingDir, stagingRoot)
    Staging.reconcileUidConstraint(spark, stagingRoot, Some("^boann:sast:.+$"))

    val badDoc = richFinding.replace("boann:sast:snyk:fingerprint:abc", "rogue:uid")
    Landing.append(spark.read.schema(OcsfModel.ocsfFinding).json(Seq(badDoc).toDS()), landingDir)
    val ex = intercept[Exception] {
      Staging.mergeRun(spark, landingDir, stagingRoot)
    }
    assert(ex.getMessage.contains("rogue:uid") ||
      Option(ex.getCause).exists(_.getMessage.contains("rogue:uid")))
    // failed compaction never committed: still on v=0, snapshot intact
    assert(Staging.currentVersion(spark, stagingRoot) === Some(0L))
    assert(Staging.readCurrent(spark, stagingRoot).get.count() === 1L)

    // recovery: loosen the constraint to admit the quarantined uid —
    // the retry then succeeds, and the failed attempt's leftover
    // version dir never collides (version numbers are not reused)
    Staging.reconcileUidConstraint(spark, stagingRoot, Some("^(boann|rogue):.+$"))
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 2L)
    assert(Staging.readCurrent(spark, stagingRoot).get.count() === 2L)
  }

  test("landing retention vacuum drops only partitions older than the cutoff") {
    import spark.implicits._
    val path = tmpDir("landing_ret")
    Seq(
      ("uid-old", "2024-01-05"),
      ("uid-mid", "2024-02-10"),
      ("uid-new", "2024-03-01"),
    ).toDF("finding_uid", "d")
      .withColumn("loaded_date", org.apache.spark.sql.functions.to_date($"d"))
      .drop("d")
      .write
      .mode("append")
      .partitionBy("loaded_date")
      .parquet(path)

    val dropped = Landing
      .retentionVacuumPolicy(spark, path, keepDays = 1, java.time.LocalDate.parse("2024-02-01"))
    assert(dropped === Seq("2024-01-05"))
    val remaining = spark.read.parquet(path).select("finding_uid").collect().map(_.getString(0)).sorted
    assert(remaining === Array("uid-mid", "uid-new"))
    // idempotent: nothing else to drop
    assert(Landing
      .retentionVacuumPolicy(spark, path, keepDays = 1, java.time.LocalDate.parse("2024-02-01"))
      .isEmpty)

    // a cutoff past every partition still keeps the newest one — an
    // empty landing dir would be unreadable (no schema) and wedge the
    // next staging run
    val dropped2 = Landing
      .retentionVacuumPolicy(spark, path, keepDays = 1, java.time.LocalDate.parse("2030-01-01"))
    assert(dropped2 === Seq("2024-02-10"))
    assert(spark.read.parquet(path).select("finding_uid").collect().map(_.getString(0)) ===
      Array("uid-new"))
  }

  test("landing composed retention: keepDays window shields partitions past the cutoff") {
    import spark.implicits._
    val path = tmpDir("landing_ret_pol")
    Seq(
      ("uid-1", "2024-01-05"),
      ("uid-2", "2024-02-10"),
      ("uid-3", "2024-03-01"),
      ("uid-4", "2024-03-02"),
    ).toDF("finding_uid", "d")
      .withColumn("loaded_date", org.apache.spark.sql.functions.to_date($"d"))
      .drop("d")
      .write
      .mode("append")
      .partitionBy("loaded_date")
      .parquet(path)

    // cutoff beyond everything, but keepDays=3 shields the newest three
    val dropped = Landing
      .retentionVacuumPolicy(spark, path, keepDays = 3, java.time.LocalDate.parse("2030-01-01"))
    assert(dropped === Seq("2024-01-05"))
    val remaining =
      spark.read.parquet(path).select("finding_uid").collect().map(_.getString(0)).sorted
    assert(remaining === Array("uid-2", "uid-3", "uid-4"))
  }

  test("accepted-values and uid-format validators (P6/P7)") {
    val staged = stagingRows
    val df     = spark.createDataFrame(spark.sparkContext.parallelize(staged.toSeq), stagingRowsSchema)
    assert(Staging.failingSeverities(df).count() === 0)
    assert(Staging.failingStatuses(df).count() === 0)
    assert(Staging.failingUidFormat(df, "^boann:[a-z0-9-]+:.*$").count() === 0)
    assert(Staging.failingUidFormat(df, "^other:.*$").count() === 1)
  }

  /** The committed `_WATERMARK` of the current version, if any. */
  private def watermarkFile(root: String): Option[String] = {
    val v = Staging.currentVersion(spark, root).get
    val p = java.nio.file.Paths.get(root, s"v=$v", "_WATERMARK")
    if (java.nio.file.Files.exists(p)) Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    else None
  }

  /** `max(staging_loaded_at)` of the current version, recomputed from its rows. */
  private def snapshotMaxMicros(root: String): String = {
    import org.apache.spark.sql.functions.{max, unix_micros}
    Staging.readCurrent(spark, root).get
      .agg(unix_micros(max("staging_loaded_at"))).head().getLong(0).toString
  }

  private def docsFor(uids: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val docs = uids.map(u => richFinding.replace("boann:sast:snyk:fingerprint:abc", u))
    spark.read.schema(OcsfModel.ocsfFinding).json(docs.toDS())
  }

  test("_WATERMARK: each commit stores its version's max(staging_loaded_at); no fresh rows carries it") {
    val landingDir  = tmpDir("landing_wm")
    val stagingRoot = tmpDir("staging_wm")
    Landing.append(docsFor("wm-1", "wm-2"), landingDir)
    Staging.mergeRun(spark, landingDir, stagingRoot)
    val first = watermarkFile(stagingRoot)
    assert(first === Some(snapshotMaxMicros(stagingRoot)))

    Landing.append(docsFor("wm-3"), landingDir)
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 3L)
    val second = watermarkFile(stagingRoot)
    assert(second === Some(snapshotMaxMicros(stagingRoot)))
    assert(second.get.toLong > first.get.toLong, "fresh rows must move the watermark")

    // no fresh rows: a new version, same rows, same watermark
    assert(Staging.mergeRun(spark, landingDir, stagingRoot) === 3L)
    assert(Staging.currentVersion(spark, stagingRoot) === Some(2L))
    assert(watermarkFile(stagingRoot) === second)
  }

  test("_WATERMARK: a version without the file falls back to the aggregate, merges the same, writes it") {
    import java.nio.file.{Files, Paths}
    val landingDir = tmpDir("landing_wm_legacy")
    val withFile   = tmpDir("staging_wm_file")
    val legacy     = tmpDir("staging_wm_legacy")
    Landing.append(docsFor("lg-1", "lg-2"), landingDir)
    Staging.mergeRun(spark, landingDir, withFile)
    Staging.mergeRun(spark, landingDir, legacy)
    // the legacy case: a version committed before versions carried
    // their watermark
    Files.delete(Paths.get(legacy, "v=0", "_WATERMARK"))
    Files.deleteIfExists(Paths.get(legacy, "v=0", "._WATERMARK.crc"))
    assert(watermarkFile(legacy) === None)

    // a re-ingested finding and a new one
    Landing.append(docsFor("lg-2", "lg-3"), landingDir)
    assert(Staging.mergeRun(spark, landingDir, withFile) === 3L)
    assert(Staging.mergeRun(spark, landingDir, legacy) === 3L)
    def rows(root: String) =
      Staging.readCurrent(spark, root).get.collect().map(_.toString).sorted.toSeq
    assert(rows(legacy) === rows(withFile))
    assert(watermarkFile(legacy) === Some(snapshotMaxMicros(legacy)))
    assert(watermarkFile(legacy) === watermarkFile(withFile))
  }

  test("Spark job ceilings: mergeRun over a snapshot, and a dashboard read") {
    // the pipeline's session settings: AQE on (the default), 4 shuffle
    // partitions
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val landingDir  = tmpDir("landing_jobs")
    val stagingRoot = tmpDir("staging_jobs")
    Landing.append(docsFor("jc-1", "jc-2"), landingDir)
    Staging.mergeRun(spark, landingDir, stagingRoot)
    Landing.append(docsFor("jc-2", "jc-3"), landingDir)
    val (n, mergeJobs) = org.apache.spark.JobCount(spark.sparkContext) {
      Staging.mergeRun(spark, landingDir, stagingRoot)
    }
    info(s"mergeRun: $mergeJobs Spark jobs")
    assert(n === 3L)
    // the keyed window's shuffle map stage and the compaction write;
    // the watermark is read from its file and both tables by declared
    // schema, so no footer merge, inference or aggregate job
    assert(mergeJobs <= 2, s"mergeRun ran $mergeJobs Spark jobs")

    val (summary, dashboardJobs) = org.apache.spark.JobCount(spark.sparkContext) {
      CoreLayer.openFindingsBySeverity(Staging.readCurrent(spark, stagingRoot).get).collect()
    }
    info(s"dashboard read: $dashboardJobs Spark jobs")
    assert(summary.map(_.getAs[Long]("n_findings")).sum === 3L)
    // the window's shuffle, the aggregate's shuffle and the result
    assert(dashboardJobs <= 3, s"the dashboard read ran $dashboardJobs Spark jobs")
  }

  private lazy val stagingRowsSchema = {
    import spark.implicits._
    val docs = spark.read.schema(OcsfModel.ocsfFinding).json(Seq(richFinding).toDS())
    val landingDir = tmpDir("landing4")
    Landing.append(docs, landingDir)
    Staging.transform(Landing.read(spark, landingDir)).schema
  }
}
