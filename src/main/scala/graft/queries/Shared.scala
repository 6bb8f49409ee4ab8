package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}

/** A once-per-corpus shared artifact: a table (or directory, or
  * driver-side value) that several gate queries read, built once per
  * (session, sfDir) and reused — the local analog of a staging model a
  * production pipeline writes once and every downstream job reads.
  *
  * Every artifact follows one lookup rule. The key is the session's
  * UUID plus `sfDir`; the session object itself is never held as a key.
  * An artifact holds a value for at most one session per `sfDir`: a
  * request from another session rebuilds and REPLACES the entry, so a
  * process that cycles sessions retains one generation per corpus, not
  * one per session. The replaced value is dropped without `unpersist`:
  * Spark's `CacheManager` is shared by all sessions of a context, and a
  * rebuild whose plan matches the previous session's still-cached one
  * reuses it — measured on `er_match` over 4 sessions built one after
  * another (`local[4]`, sf0.01), a rebuild took 0.23–0.41 s with the
  * previous plan still cached and 0.80–1.18 s after clearing the cache.
  *
  * Artifacts with a consumer set are prewarmed ([[Shared.prewarm]]):
  * their first-touch cost would otherwise land on whichever selected
  * query happens to run first, making per-query timings
  * non-decomposable, so the bench builds them up front and reports
  * their cost on its own `shared_build` line. An artifact with no
  * selected consumer is not built (its cost would be charged to
  * nothing); conservative supersets are fine, a missed consumer only
  * re-pays first-touch inside that query's own timing. Artifacts with
  * no consumer set are never prewarmed: they are built on first use,
  * usually from inside another artifact's build.
  *
  * @param name      fixed artifact name, as reported by the prewarm
  * @param consumers the gate queries that read this artifact; empty
  *                  for an artifact that is never prewarmed
  */
final class Shared[T] private (
    val name: String,
    val consumers: Set[String],
    build: (SparkSession, String) => T,
) {
  private var held = Map.empty[String, (String, T)]

  def apply(s: SparkSession, d: String): T = synchronized {
    val key = Shared.sessionKey(s)
    held.get(d) match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = build(s, d)
        held = held.updated(d, key -> v)
        v
    }
  }

  /** The session keys this artifact currently holds a value for. */
  private[graft] def heldSessions: Set[String] = synchronized(held.values.map(_._1).toSet)
}

object Shared {
  def apply[T](name: String, consumers: Set[String] = Set.empty)(
      build: (SparkSession, String) => T
  ): Shared[T] = new Shared(name, consumers, build)

  /** The session's UUID. `sessionUUID` is `private[sql]` on the classic
    * session, so it is read reflectively. */
  private[graft] def sessionKey(s: SparkSession): String =
    s.getClass.getMethod("sessionUUID").invoke(s).asInstanceOf[String]

  /** Build, in order, every artifact of `artifacts` that has a consumer
    * in `selected` (all with a consumer set when `selected` is None) and
    * return (artifact, seconds) per build. A DataFrame artifact is
    * forced with `count()`. */
  def prewarm(
      artifacts: Seq[Shared[_]],
      s: SparkSession,
      d: String,
      selected: Option[Set[String]],
  ): Seq[(String, Double)] =
    artifacts
      .filter(a => a.consumers.nonEmpty && selected.forall(sel => (sel & a.consumers).nonEmpty))
      .map { a =>
        val t0 = System.nanoTime()
        a(s, d) match {
          case df: Dataset[_] => df.count()
          case _              => ()
        }
        a.name -> (System.nanoTime() - t0) / 1e9
      }
}
