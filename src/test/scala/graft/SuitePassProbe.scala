package graft

import graft.queries._
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** Where one `operator_suite` pass spends its time. Runs perfbench's
  * 13-query slice the way the benchmark does: each pass in a fresh
  * session, every module's shared build, then every query forced by a
  * row count and content hash. For each step it prints the wall time,
  * the Spark jobs, the footer-inference jobs among them (a `parquet at`
  * job outside any SQL execution: a read without a schema), the
  * generated classes compiled, and the processes started, all of them
  * and those from stream checkpoint or state-store I/O; then each pass's
  * totals. The first pass is the warm-up.
  *
  *   sbt "Test/runMain graft.SuitePassProbe perfbench/data/sf0.01 3"
  *
  * The session is the benchmark's: `local[4]`, 4 shuffle partitions,
  * AQE off. The slice and the module order are copies of perfbench's
  * `OperatorSuite`; keep them in step. */
object SuitePassProbe {

  private val Slice = Seq(
    "ddp_char_budget", "ddp_corpus_prepare", "ddp_entity_match", "evt_type_overlap",
    "grp_cube_order_stats", "misc_sequence_explode", "mm_aspect_buckets", "rel_cdc_apply",
    "sim_ann_batched_topk", "str_levenshtein_nations", "stream_tumbling_event_counts",
    "txt_shingle_stats", "win_first_last")

  private val Prewarms: Seq[(String, (SparkSession, String, Option[Set[String]]) => Seq[(String, Double)])] =
    Seq(
      "DedupQueries"     -> DedupQueries.prewarmShared,
      "StreamingQueries" -> StreamingQueries.prewarmShared,
      "MiscQueries"      -> MiscQueries.prewarmShared,
      "TextQueries"      -> TextQueries.prewarmShared,
      "Events"           -> Events.prewarmShared,
    )

  /** A step's measures; `from` and `until` are epoch milliseconds. */
  private final case class Step(name: String, from: Long, until: Long, wall: Double,
      compiles: Long, forks: Int, checkpointForks: Int)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType    => true
    case a: ArrayType  => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _             => false
  }

  /** perfbench's action: row count and the sum of each row's xxhash64
    * over its columns in name order, in one aggregation. */
  private def countAndHash(df: DataFrame): Unit = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head()
  }

  def main(args: Array[String]): Unit = {
    val sf     = args.headOption.getOrElse("perfbench/data/sf0.01")
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    val base = SparkSession.builder()
      .master("local[4]")
      .appName("suite-pass-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    val sc = base.sparkContext

    // (submission time, footer inference) per started job; jobs are
    // assigned to steps by time, since stream threads run their jobs
    // under job groups of their own
    val started = new ConcurrentLinkedQueue[(Long, Boolean)]
    val marker  = "suite-pass-probe-marker"
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props  = Option(e.properties)
        val inExec = props.exists(_.getProperty("spark.sql.execution.id") != null)
        val footer = !inExec && e.stageInfos.headOption.exists(_.name.startsWith("parquet at "))
        if (props.exists(_.getProperty("spark.job.description") == marker)) started.add(-1L -> false)
        else started.add(e.time -> footer)
      }
    })
    /** Every job started so far, once the listener has seen them all. */
    def drained(): Seq[(Long, Boolean)] = {
      sc.setJobDescription(marker)
      try base.range(1).collect()
      finally sc.setJobDescription(null)
      while (!started.asScala.exists(_._1 == -1L)) Thread.sleep(10)
      val jobs = started.asScala.toSeq.filter(_._1 >= 0L)
      started.clear()
      jobs
    }

    def step(name: String)(body: => Unit): Step = {
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val from      = System.currentTimeMillis()
      val (wall, forks) =
        Forks.processStarts { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      val until    = System.currentTimeMillis()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      Step(name, from, until, wall, compiles, forks.size, forks.count(Forks.checkpointIo))
    }

    println("pass\tstep\twall_s\tjobs\tfooter_jobs\tcompiles\tforks\tcheckpoint_forks")
    (0 until passes).foreach { pass =>
      val s = base.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      graft.plans.ShingleRewrite.installOn(s)
      graft.plans.EditDistancePrefilter.installOn(s)
      val steps =
        Prewarms.map { case (module, f) => step(s"shared.$module")(f(s, sf, Some(Slice.toSet))) } ++
          Slice.map(q => step(q)(countAndHash(SparkEntry.queries(q)(s, sf))))
      val jobs  = drained()
      val label = if (pass == 0) "warm-up" else pass.toString
      val rows = steps.map { st =>
        val js = jobs.filter { case (t, _) => t >= st.from && t <= st.until }
        (st, js.size, js.count(_._2))
      }
      rows.foreach { case (st, n, footer) =>
        println(f"$label\t${st.name}\t${st.wall}%.3f\t$n\t$footer\t${st.compiles}\t${st.forks}\t" +
          s"${st.checkpointForks}")
      }
      println(f"$label\tTOTAL\t${steps.map(_.wall).sum}%.3f\t${rows.map(_._2).sum}\t" +
        f"${rows.map(_._3).sum}\t${steps.map(_.compiles).sum}\t${steps.map(_.forks).sum}\t" +
        f"${steps.map(_.checkpointForks).sum}")
    }
    base.stop()
  }
}
