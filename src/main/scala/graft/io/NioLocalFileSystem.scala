package graft.io

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileStatus, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.util.Try

/** Hadoop's checksummed local filesystem without shell-outs. Without
  * `libhadoop`, Hadoop's local filesystem starts a `chmod` process for
  * every file and directory it creates (two per file: the file and its
  * `.crc`) and a `readlink` process for every link-status lookup, which
  * `FileContext` renames make. This one makes the same system calls in
  * the JVM through `java.nio`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Hadoop settings that route `file:` paths through this filesystem,
    * passed as writer options (or session settings) wherever a write
    * goes through Hadoop. The `FileSystem` cache ignores the settings
    * of a single write, so it is bypassed for the `file` scheme; other
    * schemes are untouched. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
  )

  class Raw extends RawLocalFileSystem {

    /** POSIX permissions cannot carry the sticky bit; Hadoop sets it. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))

    /** Hadoop's link status with the link read by `java.nio`: the link
      * is read at the path's string form, as Hadoop's `readlink` call
      * does, and a path that is no link reports its file status. */
    override def getFileLinkStatus(f: Path): FileStatus =
      Try(Files.readSymbolicLink(Paths.get(f.toString))).toOption match {
        case None => getFileStatus(f)
        case Some(target) =>
          val link = new Path(target.toString)
          val st =
            try {
              val s = getFileStatus(f)
              new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
                s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup,
                link, f)
            } catch { // a dangling link
              case _: java.io.FileNotFoundException =>
                new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", link, f)
            }
          st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
          st
      }
  }
}
