package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it
  * so every job, task and query-execution event of a span has been
  * delivered before its counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
