package graft.ocsf

import graft.io.NioLocalFileSystem
import org.apache.spark.sql.SparkSession

/** CLI entry points mirroring the reference's scripts (SURVEY.md §3):
  *
  *  - `convert <input.sarif> <output-dir>` — `sarif_to_ocsf.py`:
  *    SARIF → OCSF findings, written as JSON.
  *  - `monitor <src-dir> <landing> <failed> <checkpoint> [archive]` —
  *    `ocsf_monitor.py` one-shot mode: ingest *.ocsf.json into landing.
  *  - `stage <landing> <staging>` — `dbt run` on the staging model:
  *    incremental high-watermark transformation.
  *
  * Usage: sbt "runMain graft.ocsf.OcsfCli <command> <args...>"
  */
object OcsfCli {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession
      .builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-ocsf")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try run(spark, args.toList)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  private val usage =
    """Usage:
      |  convert <input.sarif> <output-dir>
      |  monitor <src-dir> <landing> <failed> <checkpoint> [archive]
      |  daemon  <src-dir> <landing> <failed> <checkpoint> [archive]
      |          (env: GRAFT_POLL_INTERVAL, GRAFT_MAX_FILES_PER_TRIGGER)
      |  stage <landing> <staging>
      |  stage-merge <landing> <staging-root>
      |  vacuum <landing> <cutoff-date> [keep-days]
      |  vacuum-versions <staging-root> <keep> [max-age-days]
      |  help""".stripMargin

  /** Dispatch, returning the process exit code — separated from [[main]]
    * so specs can drive every subcommand in-JVM (the reference
    * smoke-tests its CLIs the same way,
    * `scripts/tests/test_base_cli.py:64-138`). */
  private[ocsf] def run(spark: SparkSession, args: List[String]): Int = args match {
    case "convert" :: input :: output :: Nil =>
      val findings = SarifToOcsf.convertFile(spark, input)
      if (output.endsWith(".ocsf.json")) {
        // single-file JSON array, the monitor's ingest format (S6)
        SarifToOcsf.writeFindingsArray(findings, output)
        println(s"[ocsf] converted ${spark.read.option("multiLine", true).json(output).count()} findings -> $output")
      } else {
        findings.write.options(NioLocalFileSystem.options).mode("overwrite").json(output)
        println(s"[ocsf] converted ${spark.read.json(output).count()} findings -> $output")
      }
      0

    case "monitor" :: src :: landing :: failed :: checkpoint :: rest if rest.size <= 1 =>
      val q = Monitor.run(spark, src, landing, failed, checkpoint, archiveDir = rest.headOption)
      q.awaitTermination()
      println(s"[ocsf] landing rows: ${Landing.read(spark, landing).count()}")
      0

    case "stage" :: landing :: staging :: Nil =>
      val appended = Staging.incrementalRun(spark, landing, staging)
      println(s"[ocsf] appended rows: $appended")
      0

    case "stage-merge" :: landing :: stagingRoot :: Nil =>
      val total = Staging.mergeRun(spark, landing, stagingRoot)
      println(
        s"[ocsf] staging rows: $total (version ${Staging.currentVersion(spark, stagingRoot).getOrElse(-1L)})"
      )
      0

    case "daemon" :: src :: landing :: failed :: checkpoint :: rest if rest.size <= 1 =>
      val q = Monitor.run(
        spark, src, landing, failed, checkpoint,
        archiveDir = rest.headOption,
        oneShot = false,
        pollInterval = sys.env.getOrElse("GRAFT_POLL_INTERVAL", "30 seconds"),
        maxFilesPerTrigger = sys.env.get("GRAFT_MAX_FILES_PER_TRIGGER").map(_.toInt),
      )
      // Shutdown hooks run concurrently with Spark's own (which tears
      // down the context), so the hook must only issue a quick bounded
      // stop — the checkpoint makes any interrupted batch replay
      // exactly-once on restart.
      sys.addShutdownHook { scala.util.Try(Monitor.stopGracefully(q, timeoutMs = 5000L)); () }
      q.awaitTermination()
      0

    case "vacuum" :: landing :: cutoff :: rest if rest.size <= 1 =>
      (
        scala.util.Try(java.time.LocalDate.parse(cutoff)).toOption,
        scala.util.Try(rest.headOption.map(_.toInt)).toOption.flatten.orElse(
          if (rest.isEmpty) Some(1) else None
        ),
      ) match {
        case (Some(date), Some(keepDays)) if keepDays >= 1 =>
          val dropped = Landing.retentionVacuumPolicy(spark, landing, keepDays, date)
          println(s"[ocsf] dropped partitions: ${dropped.mkString(", ")}")
          0
        case _ =>
          System.err.println(
            s"Invalid vacuum args (want <landing> yyyy-MM-dd [keep-days >= 1]): " +
              s"${(cutoff :: rest).mkString(" ")}\n$usage"
          )
          2
      }

    case "vacuum-versions" :: stagingRoot :: keep :: rest if rest.size <= 1 =>
      scala.util.Try((keep.toInt, rest.headOption.map(_.toInt))).toOption match {
        case Some((k, ageDays)) if k >= 1 && ageDays.forall(_ >= 0) =>
          // no age argument = count-only retention (age bound ZERO:
          // every superseded version beyond the window qualifies)
          val maxAge = java.time.Duration.ofDays(ageDays.getOrElse(0).toLong)
          val dropped = Staging.vacuumVersionsPolicy(spark, stagingRoot, k, maxAge)
          println(s"[ocsf] dropped versions: ${dropped.mkString(", ")}")
          0
        case _ =>
          System.err.println(
            s"Invalid vacuum-versions args (want <staging-root> <keep >= 1> " +
              s"[max-age-days >= 0]): $keep ${rest.mkString(" ")}\n$usage"
          )
          2
      }

    case cmd :: _ if cmd == "help" || cmd == "--help" || cmd == "-h" =>
      println(usage)
      0

    case other =>
      System.err.println(s"Unknown command: ${other.mkString(" ")}\n$usage")
      2
  }
}
