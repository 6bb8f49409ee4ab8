package perfbench

import graft.ocsf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import Harness._

/** The generator's manifest (see sarifgen.py), read with json4s. */
final case class ScanFile(path: String, findings: Long, kind: String)
final case class Manifest(small: Seq[ScanFile], large: Seq[ScanFile], warm: Int,
    arrivals: Seq[ScanFile])

object Manifest {
  def load(p: Path): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val j = parse(new String(Files.readAllBytes(p), "UTF-8"))
    def files(v: JValue): Seq[ScanFile] = v match {
      case JArray(xs) =>
        xs.map { x =>
          val JString(path) = x \ "path": @unchecked
          val JInt(findings) = x \ "findings": @unchecked
          val kind = x \ "kind" match { case JString(k) => k; case _ => "preload" }
          ScanFile(path, findings.toLong, kind)
        }
      case _ => Nil
    }
    val JInt(warm) = j \ "warm": @unchecked
    Manifest(files(j \ "preload" \ "small"), files(j \ "preload" \ "large"), warm.toInt,
      files(j \ "arrivals"))
  }
}

/** Named samples per unit (a bulk load, an arrival), reduced to
  * medians at the end. A key with no samples has the median NaN, which
  * the result reports as a metric that was not produced. */
final class UnitLog {
  val units = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  def start(): mutable.Map[String, Double] = { val m = mutable.Map.empty[String, Double]; units += m; m }
  def values(k: String): Seq[Double] = units.flatMap(_.get(k)).toSeq
  def med(k: String): Double = median(values(k))
  /** The units whose `key` sample equals `v`. */
  def where(key: String, v: Double): UnitLog = {
    val out = new UnitLog
    out.units ++= units.filter(_.get(key).contains(v))
    out
  }
}

/** `ocsf_trickle`: a landing table and staging snapshot, preloaded by a
  * bulk load, receive one scan at a time.
  *
  * Setup (run `SetupReps` times into fresh directories; `setup_s` is
  * the median) is the bulk load: the preload corpus of 250- and
  * 1000-result SARIF files through convert+enrich → Landing.append →
  * Staging.incrementalRun → Staging.mergeRun (initial build) →
  * dashboard. Then the manifest's untimed (`warm`) arrivals, then its
  * timed arrivals: sarifgen.py owns the schedule and each arrival's
  * kind. An arrival is one scan: convert → writeFindingsArray
  * (.ocsf.json) → Monitor.run one-shot with metrics →
  * Staging.mergeRun → dashboard, then `DashboardReads - 1` more
  * dashboard reads. */
final class OcsfTrickle(spark: SparkSession, tr: Tracer, opts: Opts, beforeTimed: () => Unit) {

  /** Dashboard answers per arrival: the first ends the arrival's
    * freshness interval, the rest are users re-reading it. */
  val DashboardReads = 2

  val inputs: Path = Paths.get(opts("inputs"))
  val work: Path   = Paths.get(opts("work")).resolve("trickle")
  val manifest     = Manifest.load(inputs.resolve("manifest.json"))
  val preloadGlob  = inputs.resolve("preload/*/*.sarif").toString
  val preloaded    = (manifest.small ++ manifest.large).map(_.findings).sum

  val loads          = new UnitLog
  val arrivals       = new UnitLog
  val dashboardTimes = mutable.ArrayBuffer.empty[Double]
  var goodFindings   = 0L
  var malformed      = 0L

  def convert(glob: String, uids: Boolean = true): DataFrame =
    SarifToOcsf.convert(SarifToOcsf.readSarif(spark, glob), enableUidGeneration = uids,
      nowMillis = Some(NowMillis))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](u: mutable.Map[String, Double], key: String)(body: => T): T = {
    val t0 = now()
    try body finally u(key) = u.getOrElse(key, 0.0) + secs(t0, now())
  }

  def dashboard(stagingRoot: Path): Unit = {
    val t0 = now()
    tr.call("core.dashboard") {
      CoreLayer.openFindingsBySeverity(Staging.readCurrent(spark, stagingRoot.toString).get).collect()
    }
    dashboardTimes += secs(t0, now())
  }

  /** Traced units only: each lazy boundary of the bulk load materialised
    * on its own to a noop sink, so convert, enrich and landing can be
    * told apart; the small- and large-file conversions also run apart. */
  def split(u: mutable.Map[String, Double]): Unit = {
    timed(u, "convert")(tr.call("convert")(noop(convert(preloadGlob, uids = false))))
    timed(u, "convert_enrich")(tr.call("enrich")(noop(convert(preloadGlob))))
    tr.call("convert.small")(noop(convert(inputs.resolve("preload/small/*.sarif").toString, uids = false)))
    tr.call("convert.large")(noop(convert(inputs.resolve("preload/large/*.sarif").toString, uids = false)))
  }

  /** The bulk load into empty landing and staging under `root`. */
  def bulkLoad(root: Path): Unit = tr.span("bulk_load") {
    val u       = loads.start()
    val landing = root.resolve("landing").toString
    if (tr.active) split(u)
    val t0 = now()
    timed(u, "append")(tr.call("landing.append")(Landing.append(convert(preloadGlob), landing)))
    timed(u, "incremental")(tr.call("staging.incremental")(
      Staging.incrementalRun(spark, landing, root.resolve("staging_inc").toString)))
    timed(u, "merge")(tr.call("staging.merge")(
      Staging.mergeRun(spark, landing, root.resolve("staging").toString)))
    dashboard(root.resolve("staging"))
    u("wall") = secs(t0, now())
  }

  def arrival(root: Path, slot: Int, u: mutable.Map[String, Double]): Unit = tr.span("arrival") {
    val a       = manifest.arrivals(slot)
    val landing = root.resolve("landing")
    val staging = root.resolve("staging")
    val dst     = root.resolve("src").resolve(f"arrival_$slot%04d.ocsf.json")
    val landedBefore = if (tr.active) dirBytes(landing) else 0L
    val t0 = now()
    if (a.kind == "malformed") {
      Files.createDirectories(dst.getParent)
      Files.copy(inputs.resolve(a.path), dst)
    } else
      tr.call("convert.arrival")(
        SarifToOcsf.writeFindingsArray(convert(inputs.resolve(a.path).toString), dst.toString))
    val t1 = now()
    timed(u, "monitor")(tr.call("monitor.run") {
      val q = Monitor.run(spark, dst.getParent.toString, landing.toString,
        root.resolve("failed").toString, root.resolve("checkpoint").toString,
        metricsPath = Some(root.resolve("metrics").toString))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    })
    timed(u, "merge")(tr.call("staging.merge")(
      Staging.mergeRun(spark, landing.toString, staging.toString)))
    dashboard(staging)
    val t2 = now()
    u("dashboard") = dashboardTimes.last
    (2 to DashboardReads).foreach(_ => dashboard(staging))
    if (a.kind == "malformed") malformed += 1 else goodFindings += a.findings
    u("convert") = secs(t0, t1); u("freshness") = secs(t1, t2); u("wall") = secs(t0, now())
    u("findings") = a.findings.toDouble
    if (a.kind == "new") u("traced") = if (tr.active) 1.0 else 0.0
    System.err.println(f"[perfbench] arrival $slot ${a.kind}%-9s traced=${tr.active}%-5s wall ${u("wall")}%.3f s")
    if (tr.active) {
      timed(u, "landing_read")(tr.call("landing.read")(Landing.read(spark, landing.toString)))
      val landed  = dirBytes(landing) - landedBefore
      val version = Staging.currentVersion(spark, staging.toString).get
      val staged  = dirBytes(staging.resolve(s"v=$version"))
      u("staging_bytes") = staged.toDouble
      if (landed > 0) { u("landing_bytes") = landed.toDouble; u("write_amp") = staged.toDouble / landed }
    }
  }

  def run(): Result = {
    val notes = mutable.ArrayBuffer.empty[String]
    val setups = (1 to SetupReps).map(i => work.resolve(s"setup_$i"))
    setups.foreach(bulkLoad)
    setups.init.foreach(deleteTree)
    val root = setups.last
    val setupS = loads.med("wall")
    // the bulk load's own checks, before any arrival
    val nLanding = Landing.read(spark, root.resolve("landing").toString).count()
    if (nLanding != preloaded) notes += s"landing rows $nLanding != generated findings $preloaded"
    val nInc = spark.read.parquet(root.resolve("staging_inc").toString).count()
    if (nInc != nLanding) notes += s"incremental staging rows $nInc != landing rows $nLanding"
    (0 until manifest.warm).foreach(slot => arrival(root, slot, mutable.Map.empty))
    progress("setup done")
    beforeTimed()
    dashboardTimes.clear()
    val timedFrom = now()
    // A traced run traces half of the new-scan arrivals (see
    // [[Harness.tracedUnit]]); the untraced ones measure the tracing
    // overhead on the same kind of arrival.
    var newSeen = 0
    (manifest.warm until manifest.arrivals.size).foreach { slot =>
      val isNew = manifest.arrivals(slot).kind == "new"
      tr.active = tr.traced && isNew && tracedUnit(newSeen)
      if (isNew) newSeen += 1
      try arrival(root, slot, arrivals.start())
      catch {
        case e: Exception => notes += s"arrival $slot failed: ${e.getClass.getName}: ${e.getMessage}"
      }
    }
    progress(s"timed phase done: ${arrivals.units.size} arrivals")
    tr.active = tr.traced

    val freshness = arrivals.values("freshness")
    val m = new Metrics
    m("setup_s") = (setupS, "s")
    m("wall_s") = (arrivals.med("wall"), "s")
    m("items_per_s") = (arrivals.values("findings").sum / arrivals.values("wall").sum, "1/s")
    m("freshness_p50_s") = (percentile(freshness, 0.50), "s")
    m("freshness_p75_s") = (percentile(freshness, 0.75), "s")
    m("query_p50_s") = (percentile(dashboardTimes.toSeq, 0.50), "s")
    m("shared_build_s") = (arrivals.med("merge"), "s")
    val metricsPath = root.resolve("metrics").toString
    if (tr.traced) {
      val traced = arrivals.where("traced", 1.0)
      m("trace.overhead_s") = (traced.med("wall") - arrivals.where("traced", 0.0).med("wall"), "s")
      tr.drain()
      SparkCounters.put(m, tr, timedFrom, traced.units.size.toDouble)
      // the bulk load, over the setup repetitions
      m("bulk.findings_per_s") = (preloaded / loads.med("wall"), "1/s")
      m("convert.s") = (loads.med("convert"), "s")
      m("convert.us_per_finding.small") = (usPerFinding("convert.small", manifest.small), "us")
      m("convert.us_per_finding.large") = (usPerFinding("convert.large", manifest.large), "us")
      m("enrich.s") = (loads.med("convert_enrich") - loads.med("convert"), "s")
      m("landing.append_s") = (loads.med("append") - loads.med("convert_enrich"), "s")
      m("staging.incremental_s") = (loads.med("incremental"), "s")
      m("staging.initial_merge_s") = (loads.med("merge"), "s")
      // the traced timed arrivals (new scans)
      m("convert.arrival_s") = (traced.med("convert"), "s")
      m("monitor.run_s") = (traced.med("monitor"), "s")
      val batches = IngestMetrics.perBatch(spark, metricsPath)
        .filter(col("batch_id") >= manifest.warm).select("duration_ms").collect()
        .map(_.getLong(0).toDouble).toSeq
      m("monitor.batch_ms_p50") = (median(batches), "ms")
      m("landing.read_s") = (traced.med("landing_read"), "s")
      m("landing.bytes_written") = (traced.med("landing_bytes"), "bytes")
      m("staging.merge_s") = (traced.med("merge"), "s")
      m("staging.bytes_written") = (traced.med("staging_bytes"), "bytes")
      m("staging.write_amp") = (traced.med("write_amp"), "ratio")
      m("core.dashboard_s") = (traced.med("dashboard"), "s")
    }
    System.err.println(f"[perfbench] ${arrivals.units.size} timed arrivals, " +
      f"${freshness.size} freshness samples, ${dashboardTimes.size} dashboard reads")

    val landing = root.resolve("landing").toString
    val nFinal  = Landing.read(spark, landing).count()
    if (nFinal != preloaded + goodFindings)
      notes += s"landing rows $nFinal != planted findings ${preloaded + goodFindings}"
    val s = IngestMetrics.summary(spark, metricsPath).head()
    val (good, corrupt) = (s.getAs[Long]("good_rows"), s.getAs[Long]("corrupt_rows"))
    if (good != goodFindings || corrupt != malformed)
      notes += s"IngestMetrics good/corrupt $good/$corrupt != planted $goodFindings/$malformed"
    if (malformed == 0) notes += "the malformed arrival was never reached"
    notes ++= checkSnapshot(landing, root.resolve("staging").toString)
    deleteTree(work)
    Result(notes.isEmpty, m, notes.toSeq)
  }

  /** Converter task time per finding, in microseconds, over the bulk
    * loads. Task time, unlike wall time, does not depend on how many
    * files (tasks) share the cores, so 250- and 1000-result files
    * compare per finding. */
  def usPerFinding(span: String, files: Seq[ScanFile]): Double = {
    val ms = tr.countersWhere(_.name == span).taskMs
    ms * 1e3 / (files.map(_.findings).sum * loads.units.size)
  }

  /** The staging snapshot rebuilt from scratch over the landing table:
    * latest row per (finding_uid, scan_run_id), as Staging.mergeRun
    * keeps it. */
  def keyedRebuild(landing: String): DataFrame = {
    val w = Window.partitionBy(col("finding_uid"), col("scan_run_id"))
      .orderBy(col("staging_loaded_at").desc)
    Staging.transform(Landing.read(spark, landing))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** mergeRun snapshot = keyed rebuild, by row count and a content hash
    * that ignores the load timestamp; the dashboard over both agrees. */
  def checkSnapshot(landing: String, stagingRoot: String): Seq[String] = {
    val snap     = Staging.readCurrent(spark, stagingRoot).get
    val rebuilt  = keyedRebuild(landing)
    val ignore   = Set("staging_loaded_at")
    val (sn, sh) = countAndHash(snap, ignore)
    val (rn, rh) = countAndHash(rebuilt, ignore)
    val out = mutable.ArrayBuffer.empty[String]
    if (sn != rn || sh != rh)
      out += s"mergeRun snapshot ($sn rows, hash $sh) != keyed rebuild ($rn rows, hash $rh)"
    if (rows(CoreLayer.openFindingsBySeverity(snap)) != rows(CoreLayer.openFindingsBySeverity(rebuilt)))
      out += "dashboard over the snapshot differs from the dashboard over the rebuild"
    out.toSeq
  }
}
