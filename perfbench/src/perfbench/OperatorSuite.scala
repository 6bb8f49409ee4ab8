package perfbench

import graft.queries._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Harness._

/** `operator_suite`: a frozen slice of the registered queries over the
  * committed parquet tables, in graft.Bench's session configuration.
  * After an untimed warm-up pass, the timed phase runs `Passes` passes
  * (see [[pass]]). The tables and the order are the same for every
  * seed.
  *
  * The end-to-end figures describe one pass assembled from its steps
  * (each module's shared build, each query), every step taking its
  * median over the timed passes: a slow spell on the host that covers
  * part of one pass moves no step's median. */
final class OperatorSuite(base: SparkSession, tr: Tracer, opts: Opts, seconds: Double,
    beforeTimed: () => Unit) {

  /** One timed pass per 5 s of `seconds`, and at least three, so that
    * every step's median has a middle; a traced run times one per 10 s,
    * twice over and at least four, half of them traced (see
    * [[Harness.tracedUnit]]). A fixed count, not a deadline, so every
    * run times the same work. */
  val Passes =
    if (tr.traced) 2 * math.max(2, math.round(seconds / 10).toInt)
    else math.max(3, math.round(seconds / 5).toInt)
  val sf = opts("data")
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** One query per family, each among the cheapest of its family, so
    * a pass stays short; the ddp family adds the consumers of the two
    * heaviest shared artifacts (er_match and corpus_survivors). */
  val Slice = Seq(
    "ddp_char_budget", "ddp_corpus_prepare", "ddp_entity_match", "evt_type_overlap",
    "grp_cube_order_stats", "misc_sequence_explode", "mm_aspect_buckets", "rel_cdc_apply",
    "sim_ann_batched_topk", "str_levenshtein_nations", "stream_tumbling_event_counts",
    "txt_shingle_stats", "win_first_last")

  private val prewarms: Seq[(String, (SparkSession, String, Option[Set[String]]) => Seq[(String, Double)])] =
    Seq(
      "DedupQueries"     -> DedupQueries.prewarmShared,
      "StreamingQueries" -> StreamingQueries.prewarmShared,
      "MiscQueries"      -> MiscQueries.prewarmShared,
      "TextQueries"      -> TextQueries.prewarmShared,
      "Events"           -> Events.prewarmShared,
    )

  val queries = graft.SparkEntry.queries

  /** A session of its own: the shared-artifact caches are per session,
    * so every pass builds its artifacts again. graft.Bench's settings:
    * AQE off, shuffle partitions = cores, both plan rewrites. */
  def freshSession(): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", Cpus.toString)
    graft.plans.ShingleRewrite.installOn(s)
    graft.plans.EditDistancePrefilter.installOn(s)
    s
  }

  /** Setup: a configured session with every table's footer read. */
  def setupOnce(): Unit = {
    val s = freshSession()
    Tables.foreach(t => s.read.parquet(s"$sf/$t.parquet").schema)
    s.range(1000).selectExpr("sum(id)").collect()
  }

  /** `shared`: each module's prewarm call; `artifacts`: what the calls
    * report per artifact; `times`: each answered query. */
  final case class Pass(wall: Double, shared: Seq[(String, Double)],
      artifacts: Seq[(String, Double)], times: Seq[(String, Double)],
      observed: Map[String, (Long, String)], failures: Seq[String], traced: Boolean)

  /** One pass in a fresh session: the slice's shared artifacts, then
    * every query in name order. Each query's action computes its row
    * count and content hash, so time to result covers every column. */
  def pass(s: SparkSession): Pass = tr.span("suite.pass") {
    val t0        = now()
    val shared    = mutable.ArrayBuffer.empty[(String, Double)]
    val artifacts = mutable.ArrayBuffer.empty[(String, Double)]
    prewarms.foreach { case (module, f) =>
      val m0 = now()
      artifacts ++= tr.call(s"shared_build.$module")(f(s, sf, Some(Slice.toSet)))
      shared += module -> secs(m0, now())
    }
    val times    = mutable.ArrayBuffer.empty[(String, Double)]
    val observed = mutable.Map.empty[String, (Long, String)]
    val failures = mutable.ArrayBuffer.empty[String]
    Slice.foreach { name =>
      val q0 = now()
      try {
        observed(name) = tr.call(s"queries.${family(name)}.$name")(countAndHash(queries(name)(s, sf)))
        times += name -> secs(q0, now())
      } catch {
        case e: Exception => failures += s"$name failed: ${e.getClass.getName}: ${e.getMessage}"
      }
    }
    Pass(secs(t0, now()), shared.toSeq, artifacts.toSeq, times.toSeq, observed.toMap,
      failures.toSeq, tr.active)
  }

  def run(): Result = {
    val setupS = median((1 to SetupReps).map { _ => val t0 = now(); setupOnce(); secs(t0, now()) })
    // untimed warm-up pass: the JVM's first pass over this code is
    // dominated by class loading and JIT compilation
    val warmSession = freshSession()
    val warm        = pass(warmSession)
    progress(f"warm-up pass done in ${warm.wall}%.1f s")
    beforeTimed()
    val timedFrom = now()
    val passes    = mutable.ArrayBuffer.empty[Pass]
    while (passes.size < Passes) {
      // the untraced passes of a traced run measure the tracing overhead
      tr.active = tr.traced && tracedUnit(passes.size)
      passes += pass(freshSession())
    }
    tr.active = tr.traced
    progress(s"timed phase done: ${passes.size} passes")

    // each step's median over the timed passes, in pass order
    def medians(steps: Pass => Seq[(String, Double)]): Seq[(String, Double)] =
      passes.toSeq.flatMap(steps(_).map(_._1)).distinct
        .map(n => n -> median(passes.toSeq.flatMap(p => steps(p).toMap.get(n))))
    val shared   = medians(_.shared)
    val queried  = medians(_.times)
    val sharedS  = shared.map(_._2).sum
    val wall     = sharedS + queried.map(_._2).sum
    // pass start -> each query answered
    val answered = queried.map(_._2).scanLeft(sharedS)(_ + _).tail

    val m = new Metrics
    m("setup_s") = (setupS, "s")
    m("wall_s") = (wall, "s")
    m("items_per_s") = (Slice.size / wall, "1/s")
    m("freshness_p50_s") = (percentile(answered, 0.50), "s")
    m("freshness_p75_s") = (percentile(answered, 0.75), "s")
    m("query_p50_s") = (percentile(queried.map(_._2), 0.50), "s")
    m("shared_build_s") = (sharedS, "s")
    passes.foreach(p => System.err.println(f"[perfbench] pass traced=${p.traced}%-5s wall ${p.wall}%.3f s"))
    queried.sortBy(-_._2).foreach { case (n, t) => System.err.println(f"[perfbench] query $n median $t%.3f s") }
    shared.foreach { case (n, t) => System.err.println(f"[perfbench] shared $n median $t%.3f s") }
    if (tr.traced) {
      val traced   = passes.filter(_.traced).toSeq
      val untraced = passes.filterNot(_.traced).toSeq
      m("trace.overhead_s") = (median(traced.map(_.wall)) - median(untraced.map(_.wall)), "s")
      Slice.map(family).distinct.foreach { f =>
        m(s"queries.$f.s") =
          (median(traced.map(_.times.collect { case (n, t) if family(n) == f => t }.sum)), "s")
      }
      traced.flatMap(_.artifacts).groupBy(_._1).foreach { case (a, xs) =>
        m(s"shared_build.$a.s") = (median(xs.map(_._2)), "s")
      }
      tr.drain()
      SparkCounters.put(m, tr, timedFrom, traced.size.toDouble)
    }
    val notes = mutable.ArrayBuffer.empty[String]
    opts.get("record") match {
      case Some(path) =>
        val lines = warm.observed.toSeq.sortBy(_._1).map { case (n, (r, h)) => s"$n\t$r\t$h" }
        Files.write(Paths.get(path), lines.asJava)
        opts.get("dump").foreach(dir => dump(warmSession, dir))
      case None =>
        (warm +: passes.toSeq).foreach { p => notes ++= p.failures ++ check(p.observed) }
    }
    Result(notes.isEmpty, m, notes.distinct.toSeq)
  }

  /** Compare against the committed expected row counts and hashes. */
  def check(observed: collection.Map[String, (Long, String)]): Seq[String] = {
    val expected = Files.readAllLines(Paths.get(opts("expected"))).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\t"); n -> (r.toLong, h) }
      .toMap
    val missing = expected.keySet -- observed.keySet
    val extra   = observed.keySet -- expected.keySet
    missing.toSeq.sorted.map(n => s"$n: no result") ++
      extra.toSeq.sorted.map(n => s"$n: no expected value") ++
      observed.toSeq.sortBy(_._1).collect {
        case (n, got) if expected.get(n).exists(_ != got) =>
          s"$n: got ${got._1} rows / hash ${got._2}, expected ${expected(n)._1} / ${expected(n)._2}"
      }
  }

  /** Recording aid: each result as parquet plus the oracle SQL, the
    * layout tools/check.py compares against DuckDB. */
  def dump(s: SparkSession, dir: String): Unit = {
    Slice.foreach(n => queries(n)(s, sf).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n"))
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => Slice.contains(n) }
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    Files.write(Paths.get(s"$dir/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracle).getBytes("UTF-8"))
  }
}
