package graft.ocsf

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Steady-state [[Staging.mergeRun]] cost against the snapshot's size.
  * For each size in the first argument (comma-separated, default
  * 3000,100000): a snapshot of that many findings landed the day
  * before, then the second argument's number of arrivals (default 6)
  * of 250 findings each landed today, half re-scans of snapshot keys
  * and half new. Prints, per arrival, the merge's wall time, Spark
  * jobs, shuffle bytes written, tasks, task run time and the new
  * version's file count, then medians over the arrivals after the
  * first; each size's temporary tables are deleted after it.
  *
  *   sbt "Test/runMain graft.ocsf.MergeScaleProbe 3000,100000,1000000 6"
  *
  * Uses the shared test session (`local[4]`, 4 shuffle partitions,
  * AQE on). */
object MergeScaleProbe {

  /** An OCSF finding with every staging column populated, as JSON. */
  private def findings(spark: SparkSession, ids: DataFrame): DataFrame = {
    import spark.implicits._
    val doc = format_string(
      """{"severity": "High", "status": "New", "activity_name": "Update",
        | "metadata": {"product": {"name": "snyk", "version": "9.9"}, "version": "1.5.0"},
        | "finding_info": {"uid": "%s", "title": "Finding %s", "desc": "Description of finding %s",
        |   "created_time": 1709287200000, "src_url": "https://example.com/f/%s"},
        | "remediation": {"desc": "upgrade the dependency"},
        | "vulnerabilities": [
        |   {"cwe": {"uid": "CWE-89"},
        |    "cve": {"uid": "CVE-2024-%s", "related_cwes": [{"uid": "CWE-79"}, {"uid": "CWE-20"}]},
        |    "affected_code": [{"file": {"name": "a.c", "path": "src/a%s.c", "type_id": 1}, "start_line": 1, "end_line": 2}],
        |    "affected_packages": [{"name": "libfoo"}],
        |    "references": ["https://nvd.example/CVE-2024-%s", "https://osv.example/x"]}],
        | "enrichments": [
        |   {"name": "scan_metadata", "type": "custom", "value": "Scan metadata", "data": {"scan_run_id": "%s"}},
        |   {"name": "rh_sdlc_source", "value": "sast"},
        |   {"name": "affected_components", "value": "comp-a"},
        |   {"name": "jira_status", "value": "In Progress"}]}""".stripMargin.replaceAll("\n", " "),
      col("uid"), col("uid"), col("uid"), col("uid"), col("id"), col("id"), col("id"), col("run"),
    )
    spark.read.schema(OcsfModel.ocsfFinding).json(ids.select(doc).as[String])
  }

  private def keys(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      col("id"),
      format_string("probe:uid:%d", col("id")).as("uid"),
      format_string("run-%d", col("id") % 100).as("run"),
    )

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val spark    = graft.SparkTestBase.spark
    val sizes    = args.headOption.fold(Seq(3000L, 100000L))(_.split(',').map(_.toLong).toSeq)
    val arrivals = if (args.length > 1) args(1).toInt else 6
    val shuffled = new AtomicLong
    val tasks    = new AtomicLong
    val taskMs   = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskMs.addAndGet(m.executorRunTime)
        }
      }
    })
    for (n <- sizes) {
      val root    = graft.SparkTestBase.tmpDir("merge_scale")
      val landing = s"$root/landing"
      val staging = s"$root/staging"
      // yesterday's bulk load: a day partition the arrivals' watermark skips
      val yesterday = current_timestamp() - expr("INTERVAL 1 DAY")
      Landing.prepare(findings(spark, keys(spark, 0, n)))
        .withColumn("loaded_at", yesterday)
        .withColumn("loaded_date", to_date(yesterday))
        .write.partitionBy("loaded_date").parquet(landing)
      Staging.mergeRun(spark, landing, staging)
      val runs = (1 to arrivals).map { i =>
        // 125 re-scans of snapshot keys (same uid and run) + 125 new findings
        val from    = (i * 7919L) % math.max(n - 125, 1)
        val rescans = keys(spark, from, from + 125)
        val added   = keys(spark, n + i * 1000L, n + i * 1000L + 125)
        Landing.append(findings(spark, rescans.unionByName(added)), landing)
        val (s0, k0, m0) = (shuffled.get, tasks.get, taskMs.get)
        val ((rows, ms), dj) = org.apache.spark.JobCount(spark.sparkContext) {
          val t0 = System.nanoTime()
          (Staging.mergeRun(spark, landing, staging), (System.nanoTime() - t0) / 1e6)
        }
        val ds    = shuffled.get - s0
        val files = new java.io.File(s"$staging/v=${Staging.currentVersion(spark, staging).get}")
          .list().count(_.endsWith(".parquet"))
        println(f"MERGE_SCALE rows=$n%d arrival=$i%d snapshot=$rows%d ms=$ms%.0f jobs=$dj%d " +
          f"shuffle_bytes=$ds%d tasks=${tasks.get - k0}%d task_ms=${taskMs.get - m0}%d files=$files%d")
        (ms, dj, ds)
      }
      val steady = runs.drop(1)
      println(f"MERGE_SCALE_SUMMARY rows=$n%d median_ms=${median(steady.map(_._1))}%.0f " +
        f"jobs=${steady.map(_._2).max}%d shuffle_bytes=${median(steady.map(_._3.toDouble))}%.0f")
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    spark.stop()
  }
}
