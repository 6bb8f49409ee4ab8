package graft.queries

import graft.{Forks, SparkEntry, SparkTestBase}
import graft.ocsf.Monitor
import org.scalatest.funsuite.AnyFunSuite

/** A streaming replay writes its offset, commit and source logs and its
  * state stores without starting a process, restores the caller's
  * session settings, and leaves no shutdown hook behind. Runs over the
  * benchmark's committed sf0.01 tables. */
class ReplayForkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val sf        = "perfbench/data/sf0.01"
  private val Isolation = "spark.sql.artifact.isolation.enabled"
  private lazy val replay = SparkEntry.queries("stream_tumbling_event_counts")

  /** The JVM's registered shutdown hooks. */
  private def shutdownHooks(): Int = {
    val hooks = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
    hooks.setAccessible(true)
    hooks.get(null).asInstanceOf[java.util.Map[_, _]].size
  }

  test("two replays start no process from checkpoint or state-store I/O; settings are restored") {
    val s = spark.newSession()
    s.conf.set(Isolation, "true")
    val before = Monitor.StreamSettings.keys.map(k => k -> s.conf.getOption(k)).toMap
    val (rows, forks) = Forks.processStarts(Seq.fill(2)(replay(s, sf).count()))
    val checkpointForks = forks.filter(Forks.checkpointIo)
    info(s"processes started by two replays: ${forks.size}, ${checkpointForks.size} from " +
      "checkpoint or state-store I/O")
    assert(checkpointForks.isEmpty,
      s"the replays' checkpoint I/O started ${checkpointForks.size} processes, the first from " +
        checkpointForks.headOption.fold("")(_.take(24).mkString(" < ")))
    assert(rows.distinct.size === 1 && rows.head > 0L)
    assert(s.conf.get(Isolation) === "true")
    assert(Monitor.StreamSettings.keys.map(k => k -> s.conf.getOption(k)).toMap === before)
  }

  test("replays register no shutdown hook of their own") {
    val s = spark.newSession()
    replay(s, sf).count() // builds the session's replay source
    val hooks = shutdownHooks()
    replay(s, sf).count()
    replay(s, sf).count()
    assert(shutdownHooks() === hooks)
  }
}
