package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.ShingleRewrite.installOn(spark)
    graft.plans.EditDistancePrefilter.installOn(spark)
    new java.io.File(outDir).mkdirs()
    // Local profiling hook (the driver never sets it): dump only the
    // named queries — for targeted re-checks at expensive scales.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    var dumped = 0
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver's pandas harness cannot sort rows on array/struct/
        // map columns (unhashable) — a complex top-level type is a
        // guaranteed red row. Fail the query loudly at dump time instead
        // of shipping it: serialize such columns with to_json (both
        // sides) before registering the query.
        val complex = df.schema.fields.collect {
          case f
              if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
                f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] ||
                f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
            f.name
        }
        require(
          complex.isEmpty,
          s"top-level complex-typed column(s) ${complex.mkString(", ")} — wrap in to_json",
        )
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    val expected = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    println(s"[verify] dumped $dumped/$expected queries to $outDir")
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    Files.writeString(
      Paths.get(s"$outDir/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(SparkEntry.oracleSql))
    spark.stop()
    // A silently-thin dump would make the downstream differential
    // record an empty "{}" while git history claims green (the
    // round-15 incident). Exit non-zero — LOUDLY — but only after the
    // partial dump and oracle_sql.json are on disk, so the failure is
    // diagnosable from the artifacts instead of zeroing them.
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] HARD FAIL: ${failed.size} queries failed to dump: ${failed.mkString(", ")}")
      sys.exit(1)
    }
    if (dumped != expected || dumped == 0) {
      System.err.println(
        s"[verify] HARD FAIL: dumped $dumped of $expected registered queries — thin record")
      sys.exit(2)
    }
  }
}
