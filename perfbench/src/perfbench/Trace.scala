package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import scala.collection.mutable

/** Spark engine counters attributed to one span. */
final class Counters {
  var jobs       = 0L
  var tasks      = 0L
  var taskMs     = 0L
  var gcMs       = 0L
  var shuffleW   = 0L
  var spill      = 0L
  var planningMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleW += o.shuffleW; spill += o.spill; planningMs += o.planningMs
  }
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** First dotted component: the module the span's call went into. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Layer-call bookkeeping for one run.
  *
  * Every call into a layer goes through [[call]], which counts it as
  * attempted and, if it throws, as failed. In a traced run, the call
  * also becomes a span (name, start, end, parent, run id): the span id
  * travels to Spark as a thread-local job property, so a listener can
  * attribute jobs, tasks, GC, shuffle, spill and query planning time
  * to the span that caused them. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val runId: String, val traced: Boolean) {
  private val SpanKey = "perfbench.span"
  private var nextId  = 0L
  private val stack   = mutable.Stack[Long]()
  val spans           = mutable.ArrayBuffer.empty[Span]
  val counters        = mutable.Map.empty[Long, Counters]
  var attempted       = 0L
  var failed          = 0L

  private val stageSpan = mutable.Map.empty[Int, Long]
  private val execSpan  = mutable.Map.empty[Long, Long]

  private def countersOf(span: Long): Counters = counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span  = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)
      countersOf(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan(x.toLong) = span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = countersOf(stageSpan.getOrElse(e.stageId, -1L))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleW += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    // An SQL execution ends after its jobs started, so its id already
    // maps to the span its jobs ran under.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        BenchSql.planning(end).foreach { case (exec, ms) =>
          Tracer.this.synchronized { countersOf(execSpan.getOrElse(exec, -1L)).planningMs += ms }
        }
      case _ => ()
    }
  }

  if (traced) spark.sparkContext.addSparkListener(listener)

  /** Whether calls record spans now. A traced run switches it off for
    * the units it times untraced, to measure the tracing overhead. */
  var active: Boolean = traced

  /** Run one layer call. Failures are counted and rethrown; a JVM
    * error (out of memory above all) is never caught here. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try span(name)(body)
    catch { case e: Exception => failed += 1; throw e }
  }

  /** A span that is not itself a layer call: the workload unit (a bulk
    * load, an arrival, a suite pass) whose layer calls nest under it. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id     = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1L)
      val sc     = spark.sparkContext
      val saved  = sc.getLocalProperty(SpanKey)
      stack.push(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanKey, saved)
        stack.pop()
        spans += Span(id, name, parent, t0, t1)
      }
    }

  /** Wait until every listener event so far has been delivered. */
  def drain(): Unit = if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Engine counters summed over the spans that started at or after
    * `fromNs` and whose layer is `layer` (every layer when empty). */
  def countersSince(layer: String, fromNs: Long): Counters =
    countersWhere(s => s.startNs >= fromNs && (layer.isEmpty || s.layer == layer))

  /** Engine counters summed over the spans that satisfy `p`. */
  def countersWhere(p: Span => Boolean): Counters = synchronized {
    val ids = spans.filter(p).map(_.id).toSet
    val out = new Counters
    counters.foreach { case (id, c) => if (ids.contains(id)) out.add(c) }
    out
  }

  /** Spans as JSON lines, one per span, with self time and counters. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_ms":${c.taskMs},"gc_ms":${c.gcMs},""" +
        s""""shuffle_write_bytes":${c.shuffleW},"spill_bytes":${c.spill},"planning_ms":${c.planningMs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (traced) spark.sparkContext.removeSparkListener(listener)
}

/** Engine counters per timed unit, for the spans that started at or
  * after `fromNs`: totals, and planning, jobs and task time per layer. */
object SparkCounters {
  val Layers = Seq("convert", "enrich", "landing", "monitor", "staging", "core", "queries",
    "shared_build")

  def put(m: Harness.Metrics, tr: Tracer, fromNs: Long, units: Double): Unit = {
    val all = tr.countersSince("", fromNs)
    m("spark.planning_s") = (all.planningMs / 1e3 / units, "s")
    m("spark.jobs") = (all.jobs / units, "count")
    m("spark.tasks") = (all.tasks / units, "count")
    m("spark.task_s") = (all.taskMs / 1e3 / units, "s")
    m("spark.gc_s") = (all.gcMs / 1e3 / units, "s")
    m("spark.shuffle_write_bytes") = (all.shuffleW / units, "bytes")
    m("spark.spill_bytes") = (all.spill / units, "bytes")
    Layers.foreach { l =>
      val c = tr.countersSince(l, fromNs)
      m(s"spark.$l.planning_s") = (c.planningMs / 1e3 / units, "s")
      m(s"spark.$l.jobs") = (c.jobs / units, "count")
      m(s"spark.$l.task_s") = (c.taskMs / 1e3 / units, "s")
    }
  }
}
