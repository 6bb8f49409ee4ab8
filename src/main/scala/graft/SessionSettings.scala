package graft

import org.apache.spark.sql.SparkSession

/** Session settings held for the length of a body. */
object SessionSettings {

  /** Run `body` with `settings` set on `spark`, then restore the
    * caller's values: a key the caller had no value for is unset. */
  def withSettings[T](spark: SparkSession, settings: Map[String, String])(body: => T): T = {
    val before = settings.keys.map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
