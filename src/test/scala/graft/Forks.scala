package graft

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The processes the JVM starts while a body runs. Without `libhadoop`,
  * Hadoop's local filesystem starts a `chmod` or `readlink` process for
  * file operations that do not go through [[graft.io.NioLocalFileSystem]];
  * specs and probes count them here. */
object Forks {

  /** `body`'s value and the processes the JVM starts while it runs,
    * each as the class names of its stack (JFR `jdk.ProcessStart`,
    * innermost frame first). */
  def processStarts[A](body: => A): (A, Seq[Seq[String]]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val value =
      try body
      finally rec.stop()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(file)
      value -> RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
        Option(e.getStackTrace).fold(Seq.empty[String])(
          _.getFrames.asScala.toSeq.map(_.getMethod.getType.getName))
      }
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  /** Whether a started process's stack is a stream's checkpoint I/O: a
    * checkpoint file manager, a metadata log (the offset, commit and
    * file source logs) or a state store. */
  def checkpointIo(stack: Seq[String]): Boolean =
    stack.exists(c =>
      c.startsWith("org.apache.spark.sql.execution.streaming.checkpointing.") ||
        c.startsWith("org.apache.spark.sql.execution.streaming.state.") ||
        c.endsWith("MetadataLog") || c.endsWith("FileStreamLog") || c.endsWith("SourceLog"))
}
