package graft.ocsf

import graft.Forks.processStarts
import graft.SparkTestBase
import graft.SparkTestBase.tmpDir
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The fixed cost of one steady arrival (monitor → merge → dashboard
  * read): once an arrival of the same shape has run, the next one
  * compiles no generated class, and the parquet writers, the commit
  * protocol and the stream's offset and commit logs start no process. */
class ArrivalCostSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  private def finding(uid: String, run: String): String =
    s"""{"severity": "High", "status": "New",
       | "metadata": {"product": {"name": "t", "version": "1"}, "version": "1.5.0"},
       | "finding_info": {"uid": "$uid", "title": "T", "desc": "D", "created_time": 1709287200000},
       | "enrichments": [{"name": "scan_metadata", "data": {"scan_run_id": "$run"}}]}"""
      .stripMargin.replaceAll("\n", "")

  /** Whether a started process's stack (class names) is a pipeline
    * write: a parquet writer, the commit protocol, a `graft.ocsf` call,
    * or a write of the stream's offset or commit log. Those logs write
    * through their base class, so a frame names `HDFSMetadataLog`; the
    * file source's own log is the one metadata log with a frame of its
    * own, `FileStreamSourceLog`, and is not counted. */
  private def pipelineWrite(stack: Seq[String]): Boolean =
    stack.exists(c => c.startsWith("graft.ocsf.") ||
      c == "org.apache.parquet.hadoop.ParquetFileWriter" ||
      c == "org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter") ||
      (stack.exists(_.endsWith(".HDFSMetadataLog")) && !stack.exists(_.endsWith(".FileStreamSourceLog")))

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("a steady arrival compiles no class; the stream reports to the caller's listeners") {
    val root    = tmpDir("arrival_cost")
    val src     = Files.createDirectories(Paths.get(root, "src")).toString
    val landing = s"$root/landing"
    val staging = s"$root/staging"
    val started    = new ConcurrentLinkedQueue[UUID]
    val terminated = new ConcurrentLinkedQueue[UUID]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.id)
    }
    spark.streams.addListener(listener)
    try {
      /** One arrival; returns the classes it compiled and its query id. */
      def arrival(i: Int): (Long, UUID) = {
        val uids = Seq(s"ac-$i-a", s"ac-$i-b").map(finding(_, s"run-$i"))
        Files.write(Paths.get(src, f"arrival_$i%02d.ocsf.json"),
          uids.mkString("[", ",", "]").getBytes("UTF-8"))
        val isolation = spark.conf.getOption(Isolation)
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val q = Monitor.run(spark, src, landing, s"$root/failed", s"$root/checkpoint",
          metricsPath = Some(s"$root/metrics"))
        assert(spark.conf.getOption(Isolation) === isolation,
          "Monitor.run must leave the caller's artifact-isolation setting as it found it")
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        Staging.mergeRun(spark, landing, staging)
        CoreLayer.openFindingsBySeverity(Staging.readCurrent(spark, staging).get).collect()
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0, q.id)
      }
      val (initial, _) = arrival(0) // the first build: no snapshot yet
      val (warm, _)    = arrival(1) // the first merge over a snapshot
      val ((steady, id), forks) = processStarts(arrival(2))
      info(s"classes compiled: initial $initial, warm $warm, steady $steady")
      assert(steady === 0L, s"a steady arrival compiled $steady generated classes")
      val pipelineForks = forks.filter(pipelineWrite)
      info(s"processes started by the steady arrival: ${forks.size}, " +
        s"${pipelineForks.size} from a pipeline write")
      assert(pipelineForks.isEmpty,
        s"a steady arrival's writes started ${pipelineForks.size} processes, the first from " +
          pipelineForks.headOption.fold("")(_.take(24).mkString(" < ")))
      assert(Staging.readCurrent(spark, staging).get.count() === 6L)
      assert(IngestMetrics.summary(spark, s"$root/metrics").head().getAs[Long]("good_rows") === 6L)
      // the query ran in the caller's spark.streams
      await("the caller's listener saw the query start")(started.contains(id))
      await("the caller's listener saw the query terminate")(terminated.contains(id))
    } finally spark.streams.removeListener(listener)
  }

  test("Monitor.run restores an explicitly set artifact-isolation value") {
    val root = tmpDir("arrival_iso")
    val src  = Files.createDirectories(Paths.get(root, "src")).toString
    Files.write(Paths.get(src, "a.ocsf.json"), s"[${finding("iso-1", "run-1")}]".getBytes("UTF-8"))
    val before = spark.conf.getOption(Isolation)
    spark.conf.set(Isolation, "true")
    try {
      val q = Monitor.run(spark, src, s"$root/landing", s"$root/failed", s"$root/checkpoint")
      assert(spark.conf.get(Isolation) === "true")
      q.awaitTermination()
      assert(Landing.read(spark, s"$root/landing").count() === 1L)
    } finally before.fold(spark.conf.unset(Isolation))(spark.conf.set(Isolation, _))
  }
}
