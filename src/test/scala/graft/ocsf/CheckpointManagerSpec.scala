package graft.ocsf

import graft.SparkTestBase
import graft.SparkTestBase.tmpDir
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{OffsetSeq, OffsetSeqLog}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** `Monitor.run` writes its offset and commit logs through Spark's
  * `FileSystem`-based checkpoint manager, where Spark's default is the
  * `FileContext` manager. A checkpoint written by either resumes under
  * the other, and both refuse a second write of one batch. */
class CheckpointManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def drop(dir: String, name: String, uids: String*): Unit =
    Files.write(Paths.get(dir, name), uids.map { uid =>
      s"""{"severity": "High", "status": "New", "finding_info": {"uid": "$uid", "title": "T"}}"""
    }.mkString("[", ",", "]").getBytes("UTF-8"))

  /** The checkpoint manager behind a query's offset log (a protected
    * member, read through its accessor). */
  private def manager(q: StreamingQuery): String = {
    val log = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.offsetLog
    log.getClass.getMethod("fileManager").invoke(log).getClass.getSimpleName
  }

  private def latestBatch(q: StreamingQuery): Option[Long] =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.offsetLog.getLatestBatchId()

  /** An offset log with its manager and its raw batch write opened. */
  private class OpenOffsetLog(session: SparkSession, path: String) extends OffsetSeqLog(session, path) {
    def manager: String = fileManager.getClass.getSimpleName
    def rewrite(batchId: Long, o: OffsetSeq): Unit =
      write(batchIdToPath(batchId), out => serialize(o, out))
  }

  private def landed(landing: String): Seq[String] =
    Landing.read(spark, landing).select("finding_uid").collect().map(_.getString(0)).sorted.toSeq

  test("a checkpoint written through the FileContext manager resumes with nothing re-ingested") {
    val root    = tmpDir("ckpt_compat")
    val src     = Files.createDirectories(Paths.get(root, "src")).toString
    val landing = s"$root/landing"
    val ckpt    = s"$root/checkpoint"
    drop(src, "a.ocsf.json", "cc-1", "cc-2")
    // the monitor's stream and landing append, started on the caller's
    // session as before the settings: Spark's default manager
    assert(spark.conf.getOption(ManagerKey).isEmpty)
    val q0 = Monitor.readStream(spark, src, None).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        Landing.append(b.filter(col("_corrupt").isNull).drop("_corrupt"), landing)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q0.awaitTermination()
    assert(manager(q0) === "FileContextBasedCheckpointFileManager")
    assert(landed(landing) === Seq("cc-1", "cc-2"))

    def monitor(): StreamingQuery = {
      val q = Monitor.run(spark, src, landing, s"$root/failed", ckpt)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      assert(manager(q) === "FileSystemBasedCheckpointFileManager")
      q
    }
    // nothing new: the old offsets hold, no batch is planned
    assert(latestBatch(monitor()) === Some(0L))
    assert(landed(landing) === Seq("cc-1", "cc-2"))
    // one new file: only it lands, as the next batch
    drop(src, "b.ocsf.json", "cc-3")
    assert(latestBatch(monitor()) === Some(1L))
    assert(landed(landing) === Seq("cc-1", "cc-2", "cc-3"))
  }

  test("a second write of an existing offset-log batch fails under both managers") {
    for ((settings, expected) <- Seq(
        Map.empty[String, String]  -> "FileContextBasedCheckpointFileManager",
        Monitor.StreamSettings     -> "FileSystemBasedCheckpointFileManager")) {
      val session = spark.newSession()
      settings.foreach { case (k, v) => session.conf.set(k, v) }
      val path = s"${tmpDir("ckpt_dup")}/offsets"
      val log  = new OpenOffsetLog(session, path)
      assert(log.manager === expected)
      val first = OffsetSeq.fill(LongOffset(1L))
      assert(log.add(0L, first))
      assert(!log.add(0L, OffsetSeq.fill(LongOffset(2L))), "add skips a batch it can see")
      // a writer that checked before the batch existed reaches the rename
      val e = intercept[java.util.ConcurrentModificationException](
        log.rewrite(0L, OffsetSeq.fill(LongOffset(3L))))
      assert(e.getCause.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException], expected)
      // read back from disk by a second log: the first batch is intact
      assert(new OffsetSeqLog(session, path).get(0L).get.offsets === first.offsets, expected)
    }
  }
}
