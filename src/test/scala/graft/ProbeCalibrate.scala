package graft

import org.apache.spark.sql.SparkSession

/** Calibration main for the [[AmbientProbe]] pins: prints the full
  * 4-run profile of both probes (ALU and memory-path) at the requested
  * thread count on a fresh JVM, so `pinnedIdleSeconds32` /
  * `pinnedIdleMemSeconds32` can be re-measured after a hardware or
  * Spark-version change instead of trusted blindly. Run on an IDLE box:
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ProbeCalibrate" }}}
  */
object ProbeCalibrate {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val alu = (1 to 4).map(_ => AmbientProbe.runOnce(spark, cpus))
    val mem = (1 to 4).map(_ => AmbientProbe.runOnceMem(spark, cpus))
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("/")
    println(f"alu runs ${fmt(alu)} min ${alu.min}%.3f (pin ${AmbientProbe.expectedIdle(cpus)}%.3f)")
    println(
      f"mem runs ${fmt(mem)} min ${mem.min}%.3f (pin ${AmbientProbe.expectedIdleMem(cpus)}%.3f)")
    spark.stop()
  }
}
