package graft.ocsf

import graft.SparkTestBase
import graft.SparkTestBase.tmpDir
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** S4/S5 test double: a Hadoop filesystem registered under a non-`file:`
  * scheme (`mockgs://`), backed by the local disk. Everything the
  * monitor does against an object store — URI resolution, globbed
  * listing, reads, archive renames, checkpoint recovery — goes through
  * the `FileSystem` API with this scheme, exactly as `gs://`/`s3a://`
  * would resolve their connectors (the reference's GCS handling,
  * `scripts/ocsf_monitor.py:210-342`, `scripts/helpers/gcs_utils.py:64-108`).
  * Hadoop instantiates it reflectively, so it must be a public
  * top-level class with a no-arg constructor.
  */
class MockObjectStoreFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockgs:///")
  override def getScheme: String    = "mockgs"
}

/** ST1–ST3: streaming file-monitor pipeline — good files land, corrupt
  * files route to failed, archive receives processed sources
  * (`scripts/ocsf_monitor.py:120-207`; reference tests
  * `scripts/tests/test_ocsf_monitor.py:100-516`).
  */
class MonitorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  /** The corrupt records routed to `failedDir`, one per malformed document. */
  private def failedRows(failedDir: String): Seq[String] =
    spark.read.text(s"$failedDir/batch_*").collect().map(_.getString(0)).toSeq

  private def finding(uid: String): String =
    s"""{"severity": "High", "status": "New",
       | "metadata": {"product": {"name": "t", "version": "1"}, "version": "1.5.0"},
       | "finding_info": {"uid": "$uid", "title": "T", "desc": "D", "created_time": 1709287200000}}"""
      .stripMargin.replaceAll("\n", "")

  test("one-shot ingestion: good files land, corrupt routed, archive populated, idempotent restart") {
    val src        = tmpDir("mon_src")
    val landing    = tmpDir("mon_landing")
    val failed     = tmpDir("mon_failed")
    val checkpoint = tmpDir("mon_ckpt")
    val archive    = tmpDir("mon_archive")

    writeFile(src, "a.ocsf.json", s"[${finding("uid-1")}, ${finding("uid-2")}]")
    writeFile(src, "b.ocsf.json", s"[${finding("uid-3")}]")
    writeFile(src, "c.ocsf.json", "{ this is not valid json")
    writeFile(src, "ignored.txt", "not an ocsf file")

    val q = Monitor.run(spark, src, landing, failed, checkpoint, archiveDir = Some(archive))
    q.awaitTermination()

    val landed = Landing.read(spark, landing)
    assert(landed.count() === 3)
    assert(
      landed.select("finding_uid").collect().map(_.getString(0)).sorted ===
        Array("uid-1", "uid-2", "uid-3")
    )
    // corrupt file captured for triage, without a metrics table too
    assert(failedRows(failed) === Seq("{ this is not valid json"))

    // restart with same checkpoint: nothing reprocessed (exactly-once per file)
    val q2 = Monitor.run(spark, src, landing, failed, checkpoint, archiveDir = Some(archive))
    q2.awaitTermination()
    assert(Landing.read(spark, landing).count() === 3)
  }

  test("empty findings array ingests as success: zero rows, nothing failed, file archived") {
    // the reference's test_ingest_file_empty semantics
    // (scripts/tests/test_ingest_raw_ocsf_findings.py:189): an empty
    // array is a valid, successfully-processed file
    val src        = tmpDir("mon_empty_src")
    val landing    = tmpDir("mon_empty_landing")
    val failed     = tmpDir("mon_empty_failed")
    val checkpoint = tmpDir("mon_empty_ckpt")
    val archive    = tmpDir("mon_empty_archive")

    writeFile(src, "empty.ocsf.json", "[]")
    writeFile(src, "good.ocsf.json", s"[${finding("uid-e1")}]")

    val q = Monitor.run(spark, src, landing, failed, checkpoint, archiveDir = Some(archive))
    q.awaitTermination()

    assert(Landing.read(spark, landing).count() === 1) // only the good row
    assert(!Files.exists(Paths.get(failed)) || Files.list(Paths.get(failed)).count() === 0)
    // the empty file is recorded processed (not stuck, not retried):
    // a checkpointed restart re-ingests nothing from either file
    // (archive placement itself is asynchronous, so exactly-once
    // accounting is the reliable success signal)
    val q2 = Monitor.run(spark, src, landing, failed, checkpoint, archiveDir = Some(archive))
    q2.awaitTermination()
    assert(Landing.read(spark, landing).count() === 1)
    assert(!Files.exists(Paths.get(failed)) || Files.list(Paths.get(failed)).count() === 0)
  }

  test("daemon mode: processing-time polling picks up late files; graceful stop drains") {
    val src        = tmpDir("mond_src")
    val landing    = tmpDir("mond_landing")
    val failed     = tmpDir("mond_failed")
    val checkpoint = tmpDir("mond_ckpt")

    writeFile(src, "a.ocsf.json", s"[${finding("d-1")}]")
    val q = Monitor.run(
      spark, src, landing, failed, checkpoint,
      oneShot = false, pollInterval = "100 milliseconds",
    )
    try {
      q.processAllAvailable()
      assert(Landing.read(spark, landing).count() === 1)

      // a file arriving AFTER the stream started is picked up by a
      // later trigger — the watch-loop behavior one-shot mode lacks
      writeFile(src, "b.ocsf.json", s"[${finding("d-2")}, ${finding("d-3")}]")
      q.processAllAvailable()
      assert(Landing.read(spark, landing).count() === 3)
    } finally {
      assert(Monitor.stopGracefully(q), "query did not stop within timeout")
    }
    assert(!q.isActive)
  }

  test("S4/S5: monitor runs end-to-end on a non-file: Hadoop filesystem (mockgs://)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockgs.impl", classOf[MockObjectStoreFileSystem].getName)
    val srcLocal     = tmpDir("gcs_src")
    val archiveLocal = tmpDir("gcs_archive")
    val landing      = tmpDir("gcs_landing") // local sink; only src+archive are object-store
    val failed       = tmpDir("gcs_failed")
    val checkpoint   = tmpDir("gcs_ckpt")
    val src          = s"mockgs://$srcLocal"
    val archive      = s"mockgs://$archiveLocal"

    writeFile(srcLocal, "a.ocsf.json", s"[${finding("g-1")}, ${finding("g-2")}]")
    writeFile(srcLocal, "b.ocsf.json", s"[${finding("g-3")}]")
    writeFile(srcLocal, "bad.ocsf.json", "{ not json")
    writeFile(srcLocal, "skip.txt", "not an ocsf file")

    // one batch per file proves the listing/iteration machinery works
    // batch-by-batch on the alternate scheme, not just in one gulp
    val q = Monitor.run(
      spark, src, landing, failed, checkpoint,
      archiveDir = Some(archive), maxFilesPerTrigger = Some(1),
    )
    q.awaitTermination()

    val landed = Landing.read(spark, landing)
    assert(landed.count() === 3)
    assert(
      landed.select("finding_uid").collect().map(_.getString(0)).sorted ===
        Array("g-1", "g-2", "g-3")
    )
    assert(q.lastProgress.batchId >= 2, s"backlog not split: ${q.lastProgress.batchId}")
    // corrupt row routed to failed/
    assert(Files.list(Paths.get(failed)).toArray.nonEmpty)

    // checkpoint recovery on the alternate scheme: restart reprocesses
    // nothing; a file that arrives after the restart is picked up
    val q2 = Monitor.run(
      spark, src, landing, failed, checkpoint,
      archiveDir = Some(archive), maxFilesPerTrigger = Some(1),
    )
    q2.awaitTermination()
    assert(Landing.read(spark, landing).count() === 3)

    // Archive moves happen THROUGH the mockgs filesystem. A batch's
    // sources are archived when the NEXT data batch commits (and the
    // cleaner is async, so poll with a bound): after q3 processes a new
    // file, everything q1 ingested must be parked under the archive
    // root and gone from src — c.ocsf.json itself stays pending until a
    // later batch.
    def archivedNames(): Array[String] = Files
      .walk(Paths.get(archiveLocal))
      .toArray
      .map(p => Paths.get(p.toString).getFileName.toString)
      .filter(_.endsWith(".ocsf.json"))
    writeFile(srcLocal, "c.ocsf.json", s"[${finding("g-4")}]")
    val q3 = Monitor.run(
      spark, src, landing, failed, checkpoint,
      archiveDir = Some(archive), maxFilesPerTrigger = Some(1),
    )
    q3.awaitTermination()
    assert(Landing.read(spark, landing).count() === 4)

    val deadline = System.currentTimeMillis() + 30000
    while (archivedNames().length < 3 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(
      archivedNames().sorted === Array("a.ocsf.json", "b.ocsf.json", "bad.ocsf.json"),
      s"archived: ${archivedNames().mkString(",")}",
    )
    val remaining =
      Files.list(Paths.get(srcLocal)).toArray.map(_.toString).filter(_.endsWith(".ocsf.json"))
    assert(
      remaining.map(p => Paths.get(p).getFileName.toString) === Array("c.ocsf.json"),
      s"unexpected src leftovers: ${remaining.mkString(",")}",
    )
  }

  test("ingestion metrics: mixed good/bad run exports queryable per-batch counts and timing") {
    val src        = tmpDir("monm_src")
    val landing    = tmpDir("monm_landing")
    val failed     = tmpDir("monm_failed")
    val checkpoint = tmpDir("monm_ckpt")
    val metrics    = tmpDir("monm_metrics")

    writeFile(src, "a.ocsf.json", s"[${finding("m-1")}, ${finding("m-2")}]")
    writeFile(src, "b.ocsf.json", "{ this is not valid json")
    writeFile(src, "c.ocsf.json", s"[${finding("m-3")}]")

    // one batch per file → three metrics rows with per-batch resolution
    val q = Monitor.run(
      spark, src, landing, failed, checkpoint,
      maxFilesPerTrigger = Some(1), metricsPath = Some(metrics),
    )
    q.awaitTermination()

    assert(Landing.read(spark, landing).count() === 3)
    val rows = IngestMetrics.perBatch(spark, metrics).collect()
    assert(rows.length === 3, s"expected 3 batches, got ${rows.toSeq}")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet === Set(0L, 1L, 2L))
    // totals across batches match the landed/failed row counts
    assert(rows.map(_.getAs[Long]("good_rows")).sum === 3L)
    assert(rows.map(_.getAs[Long]("corrupt_rows")).sum === 1L)
    // the corrupt file's batch reports exactly (0 good, 1 corrupt) —
    // batch order follows file mod times, so locate it by shape
    assert(
      rows.exists(r => r.getAs[Long]("good_rows") === 0L && r.getAs[Long]("corrupt_rows") === 1L),
      s"no (0 good, 1 corrupt) batch among ${rows.toSeq}",
    )
    assert(rows.forall(_.getAs[Long]("duration_ms") >= 0L))

    val s = IngestMetrics.summary(spark, metrics).collect()(0)
    assert(s.getAs[Long]("batches") === 3L)
    assert(s.getAs[Long]("good_rows") === 3L)
    assert(s.getAs[Long]("corrupt_rows") === 1L)
    assert(s.getAs[Double]("rows_per_sec") > 0.0)

    // restart on the same checkpoint: no new batches → no new metrics
    // rows; a late file adds exactly one more
    val q2 = Monitor.run(
      spark, src, landing, failed, checkpoint,
      maxFilesPerTrigger = Some(1), metricsPath = Some(metrics),
    )
    q2.awaitTermination()
    assert(IngestMetrics.perBatch(spark, metrics).count() === 3)

    writeFile(src, "d.ocsf.json", s"[${finding("m-4")}]")
    val q3 = Monitor.run(
      spark, src, landing, failed, checkpoint,
      maxFilesPerTrigger = Some(1), metricsPath = Some(metrics),
    )
    q3.awaitTermination()
    val after = IngestMetrics.perBatch(spark, metrics).collect()
    assert(after.length === 4)
    assert(after.map(_.getAs[Long]("good_rows")).sum === 4L)

    // one batch that mixes good and malformed files: the counts
    // observed on the landing write equal the planted ones, and the
    // malformed files' records reach failed/
    writeFile(src, "e.ocsf.json", s"[${finding("m-5")}, ${finding("m-6")}]")
    writeFile(src, "f.ocsf.json", "[{ truncated")
    writeFile(src, "g.ocsf.json", s"[${finding("m-7")}]")
    writeFile(src, "h.ocsf.json", "not json at all")
    val q4 = Monitor.run(spark, src, landing, failed, checkpoint, metricsPath = Some(metrics))
    q4.awaitTermination()
    val mixed = IngestMetrics.perBatch(spark, metrics).filter("batch_id = 4").collect()
    assert(mixed.length === 1, s"expected one batch 4, got ${mixed.toSeq}")
    assert(mixed(0).getAs[Long]("good_rows") === 3L)
    assert(mixed(0).getAs[Long]("corrupt_rows") === 2L)
    assert(Landing.read(spark, landing).count() === 7)
    assert(failedRows(failed).sorted ===
      Seq("[{ truncated", "not json at all", "{ this is not valid json"))
  }

  test("streaming accepted-values gates: severity/status violations counted per batch") {
    val src        = tmpDir("monv_src")
    val landing    = tmpDir("monv_landing")
    val failed     = tmpDir("monv_failed")
    val checkpoint = tmpDir("monv_ckpt")
    val metrics    = tmpDir("monv_metrics")

    def withLevels(uid: String, severity: String, status: String): String =
      finding(uid)
        .replace(""""severity": "High"""", s""""severity": "$severity"""")
        .replace(""""status": "New"""", s""""status": "$status"""")

    // batch of 4: one bad severity, one bad status, one bad both, one clean;
    // null severity/status must NOT count (mirrors SQL NOT IN semantics
    // of the reference's dbt tests, where NULL passes)
    writeFile(src, "v.ocsf.json",
      s"""[${withLevels("v-1", "SEVERE", "New")},
         | ${withLevels("v-2", "High", "Open")},
         | ${withLevels("v-3", "P1", "Closed")},
         | ${finding("v-4")}]""".stripMargin.replaceAll("\n", ""))
    writeFile(src, "w.ocsf.json",
      s"""[${finding("w-1").replace(""""severity": "High", "status": "New",""", "")}]""")

    val q = Monitor.run(
      spark, src, landing, failed, checkpoint,
      maxFilesPerTrigger = Some(1), metricsPath = Some(metrics),
    )
    q.awaitTermination()

    // all rows still LAND (parse-valid; the gate observes, not drops —
    // the reference's dbt tests likewise run after materialization)
    assert(Landing.read(spark, landing).count() === 5)
    val s = IngestMetrics.summary(spark, metrics).collect()(0)
    assert(s.getAs[Long]("severity_violations") === 2L, s.toString)
    assert(s.getAs[Long]("status_violations") === 2L, s.toString)
    // the clean batch (w.ocsf.json, null severity/status) reports zero
    val perBatch = IngestMetrics.perBatch(spark, metrics).collect()
    assert(perBatch.exists(r =>
      r.getAs[Long]("severity_violations") === 0L && r.getAs[Long]("status_violations") === 0L))
  }

  test("backpressure: maxFilesPerTrigger=1 drains a backlog in bounded batches") {
    val src        = tmpDir("monb_src")
    val landing    = tmpDir("monb_landing")
    val failed     = tmpDir("monb_failed")
    val checkpoint = tmpDir("monb_ckpt")

    (1 to 3).foreach(i => writeFile(src, s"f$i.ocsf.json", s"[${finding(s"b-$i")}]"))
    val q = Monitor.run(
      spark, src, landing, failed, checkpoint,
      maxFilesPerTrigger = Some(1),
    )
    q.awaitTermination()
    assert(Landing.read(spark, landing).count() === 3)
    // AvailableNow honors the cap by splitting the backlog into one
    // batch per file: batch ids 0..2 all committed in one run.
    assert(q.lastProgress.batchId >= 2, s"backlog not split: ${q.lastProgress.batchId}")
  }
}
