package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness: drives one workload through the public functions
  * of each layer and writes the result object (see [[Result]]).
  *
  * Usage (normally through run.py):
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --inputs DIR --work DIR --data DIR --expected FILE --out FILE
  *     [--record FILE --dump DIR]   (operator_suite: see record_expected.py)
  */
object Harness {

  val Cpus = 4
  /** The converter's `nowMillis`: pins every finding's `time`. */
  val NowMillis = 1710000000000L
  val SetupReps = 3

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** One metric: value and unit. */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  final case class Result(correct: Boolean, metrics: Metrics, notes: Seq[String])

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val workload = opts("workload")
    val seed     = opts("seed").toLong
    val seconds  = opts("seconds").toDouble
    val traced   = opts("trace") == "1"
    val work     = Paths.get(opts("work"))
    val spark    = session(workload, work)
    val tracer   = new Tracer(spark, s"$workload-$seed", traced)
    val result =
      try {
        progress("session ready")
        // The start probe runs once setup is done, right before the
        // timed phase: by then the session is warm, so the probe times
        // the machine and not the JVM's first Spark job.
        var probeStart = Double.NaN
        val beforeTimed = () => { probeStart = graft.AmbientProbe.runOnce(spark, Cpus) }
        val r = workload match {
          case "ocsf_trickle"   => new OcsfTrickle(spark, tracer, opts, beforeTimed).run()
          case "operator_suite" => new OperatorSuite(spark, tracer, opts, seconds, beforeTimed).run()
          case other            => sys.error(s"unknown workload $other")
        }
        progress("workload done")
        val probeEnd = graft.AmbientProbe.runOnce(spark, Cpus)
        System.err.println(f"[perfbench] host alu probe: start $probeStart%.3f s, end $probeEnd%.3f s " +
          f"(idle pin at $Cpus cores: ${graft.AmbientProbe.expectedIdle(Cpus)}%.3f s)")
        r.metrics("peak_rss_mb") = (peakRssMb(), "MB")
        if (traced) {
          r.metrics("host.alu_probe_s.start") = (probeStart, "s")
          r.metrics("host.alu_probe_s.end") = (probeEnd, "s")
          r.metrics("error_rate") =
            (if (tracer.attempted == 0) 0.0 else tracer.failed.toDouble / tracer.attempted, "ratio")
          tracer.write(work.resolve("trace.jsonl"))
        }
        r
      } finally {
        tracer.close()
        spark.stop()
      }
    result.notes.foreach(n => System.err.println(s"[perfbench] CHECK FAILED: $n"))
    val metrics = result.metrics
      .map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"correct":${result.correct},"attempted":${tracer.attempted},""" +
        s""""failed":${tracer.failed},"metrics":$metrics}"""
    Files.write(Paths.get(opts("out")), (json + "\n").getBytes("UTF-8"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(workload: String, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s =
      if (workload == "operator_suite")
        // graft.Bench's session: AQE off, shuffle partitions = cores
        b.config("spark.sql.adaptive.enabled", "false").getOrCreate()
      else
        // OcsfCli's session settings
        b.config("spark.sql.mapKeyDedupPolicy", "LAST_WIN").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- shared helpers -------------------------------------------------

  def now(): Long = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def progress(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] +$up%.1f s $msg")
  }
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Whether the k-th timed unit of a kind is traced in a traced run:
    * traced, untraced, untraced, traced, and again. Each half sees as
    * many early units as late ones, so warm-up drift across the timed
    * phase does not show as tracing overhead. */
  def tracedUnit(k: Int): Boolean = k % 4 == 0 || k % 4 == 3

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s   = xs.sorted
      val pos = q * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType    => true
    case a: ArrayType  => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _             => false
  }

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Row-order-independent content hash: the sum of each row's
    * xxhash64 over its columns in name order (map-typed values, which
    * Spark cannot hash, go through to_json). */
  def hashColumn(df: DataFrame, ignore: Set[String] = Set.empty): Column = {
    val cols = df.schema.fields.filterNot(f => ignore(f.name)).sortBy(_.name).map { f =>
      if (hasMap(f.dataType)) to_json(quoted(f.name)) else quoted(f.name)
    }
    sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))
  }

  /** Row count and content hash in one aggregation. */
  def countAndHash(df: DataFrame, ignore: Set[String] = Set.empty): (Long, String) = {
    val r = df.agg(count(lit(1)), hashColumn(df, ignore)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
}
