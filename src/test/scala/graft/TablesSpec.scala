package graft

import graft.SparkTestBase.tmpDir
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Tables]] reads each table file by a schema inferred once per
  * process: the same schema and rows as a plain `spark.read.parquet`,
  * with no Spark job after the first read. Runs over the benchmark's
  * committed sf0.01 tables. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val sf    = "perfbench/data/sf0.01"
  private val Names = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `body`'s value and the number of Spark jobs it starts. A marker job
    * after the body is awaited on the listener, so every job of the
    * body has been delivered when they are counted. */
  private def jobs[A](body: => A): (A, Int) = {
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val value  = body
      val marker = s"tables-spec-marker-${System.nanoTime()}"
      sc.setJobDescription(marker)
      try spark.range(1).collect()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker), "the listener never saw the marker job")
      value -> started.asScala.takeWhile(_ != marker).size
    } finally sc.removeSparkListener(listener)
  }

  private def read(s: SparkSession, name: String): DataFrame =
    if (name == "events") Tables.events(s, sf) else Tables.table(s, sf, name)

  /** Write `df` as the single parquet file `dest`, replacing it. */
  private def writeFile(df: DataFrame, dest: String): Unit = {
    val out = tmpDir("tables_out")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = Files.list(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
  }

  test("after the first read, a table read runs no Spark job, also from a fresh session") {
    // events first: its read sets nanosAsLong, which is part of the key
    val order = "events" +: Names.filter(_ != "events")
    val s     = spark.newSession()
    order.foreach(read(s, _))
    val (_, plain) = jobs(s.read.parquet(s"$sf/orders.parquet"))
    assert(plain === 1, "a read without a schema infers it with a footer job")
    val (_, same) = jobs(order.foreach(read(s, _)))
    assert(same === 0)
    val fresh = spark.newSession()
    val (_, inFresh) = jobs(order.foreach(read(fresh, _)))
    assert(inFresh === 0)
  }

  test("each table reads with the schema and rows of a plain read") {
    val s = spark.newSession()
    s.conf.set(NanosAsLong, "true")
    Names.foreach { name =>
      val ours  = Tables.table(s, sf, name)
      val plain = s.read.parquet(s"$sf/$name.parquet")
      assert(ours.schema === plain.schema, name)
      assert(ours.count() === plain.count(), name)
      assert(ours.exceptAll(plain).isEmpty && plain.exceptAll(ours).isEmpty, name)
    }
  }

  test("a file rewritten at the same path is inferred again") {
    import spark.implicits._
    val dir  = tmpDir("tables_rewrite")
    val path = s"$dir/t.parquet"
    writeFile(Seq(1, 2).toDF("a"), path)
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    writeFile(Seq((3, "x")).toDF("a", "b"), path)
    val t = Tables.table(spark, dir, "t")
    assert(t.schema === spark.read.parquet(path).schema)
    assert(t.collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((3, "x")))
  }

  test("events.ts takes its type under both nanosAsLong values") {
    // the micros generation: the same schema as a plain read either way
    for (v <- Seq("false", "true")) {
      val s = spark.newSession()
      s.conf.set(NanosAsLong, v)
      assert(Tables.table(s, sf, "events").schema === s.read.parquet(s"$sf/events.parquet").schema, v)
    }
    assert(Tables.events(spark.newSession(), sf).schema("ts").dataType === TimestampType)

    // the nanos generation: int64 TIMESTAMP(NANOS), readable only as raw nanos
    val dir    = tmpDir("tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos  = 1704067200123456789L // 2024-01-01 00:00:00.123456789 UTC
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L).append("ts", nanos))
    finally writer.close()

    val withNanos = spark.newSession()
    val events    = Tables.events(withNanos, dir)
    assert(Tables.table(withNanos, dir, "events").schema("ts").dataType === LongType)
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.selectExpr("unix_micros(ts)").head().getLong(0) === nanos / 1000)
    // the schema inferred with the flag on is not served with it off
    val without = spark.newSession()
    without.conf.set(NanosAsLong, "false")
    intercept[Exception](without.read.parquet(s"$dir/events.parquet"))
    intercept[Exception](Tables.table(without, dir, "events"))
  }
}
