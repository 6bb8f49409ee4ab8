package graft.io

import graft.SparkTestBase.tmpDir
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** [[NioLocalFileSystem]] leaves on disk, and reports, what Hadoop's
  * `LocalFileSystem` does under the same settings. */
class LocalFsSpec extends AnyFunSuite {

  private def open(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The full mode bits, the sticky bit included. */
  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  test("files and directories get Hadoop's permissions under the same umask") {
    for (umask <- Seq("022", "027", "077", "002")) {
      val modes = Seq(new LocalFileSystem(), new NioLocalFileSystem()).map { fs0 =>
        val fs   = open(fs0, umask)
        val root = tmpDir("localfs_perm")
        val file = new Path(s"$root/d/e/f.bin")
        val out  = fs.create(file)
        out.write(Array[Byte](1, 2, 3))
        out.close()
        fs.mkdirs(new Path(s"$root/m/n"))
        val explicit = new Path(s"$root/x")
        fs.mkdirs(explicit, new FsPermission(Integer.parseInt("751", 8).toShort))
        val sticky = new Path(s"$root/t")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
        fs.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
        val got = Seq("d", "d/e", "d/e/f.bin", "d/e/.f.bin.crc", "m", "m/n", "x", "t")
          .map(r => r -> mode(s"$root/$r"))
        fs.close()
        got
      }
      assert(modes(1) === modes(0), s"umask $umask")
    }
  }

  /** Every field of a path's link status, the link target only on a
    * link, or the class of the exception the lookup threw. */
  private def linkStatus(fs: FileSystem, p: Path): Either[Class[_], Seq[Any]] =
    Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass).map { s =>
      Seq(s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime, s.getAccessTime,
        s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize) ++
        (if (s.isSymlink) Seq(s.getSymlink) else Nil)
    }

  test("link status: links, dangling links, plain files and qualified paths read the same") {
    val root = tmpDir("localfs_link")
    Files.write(Paths.get(root, "target.txt"), "abc".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(root, "dir"))
    Files.createSymbolicLink(Paths.get(root, "abs"), Paths.get(root, "target.txt"))
    Files.createSymbolicLink(Paths.get(root, "rel"), Paths.get("target.txt"))
    Files.createSymbolicLink(Paths.get(root, "dirlink"), Paths.get("dir"))
    Files.createSymbolicLink(Paths.get(root, "dangling"), Paths.get("missing.txt"))
    val hadoop = open(new LocalFileSystem(), "022")
    val nio    = open(new NioLocalFileSystem(), "022")
    val names  = Seq("abs", "rel", "dirlink", "dangling", "target.txt", "dir", "none")
    val paths  = names.map(n => new Path(s"$root/$n")) ++ names.map(n => new Path(s"file:$root/$n"))
    for (p <- paths) assert(linkStatus(nio, p) === linkStatus(hadoop, p), p.toString)
    // Hadoop reads the link at the path's string form: a qualified
    // path is looked up as no link, so a dangling one is not found
    assert(linkStatus(nio, new Path(s"file:$root/dangling")) ===
      Left(classOf[java.io.FileNotFoundException]))
    assert(nio.getFileLinkStatus(new Path(s"$root/rel")).getSymlink ===
      new Path(s"file:$root/target.txt"))
    assert(nio.getFileLinkStatus(new Path(s"$root/dangling")).isSymlink)
  }

  test("the option map names the file scheme only and bypasses the filesystem cache") {
    val conf = new Configuration()
    NioLocalFileSystem.options.foreach { case (k, v) => conf.set(k, v) }
    val root = tmpDir("localfs_conf")
    val a = new Path(s"file:$root").getFileSystem(conf)
    assert(a.isInstanceOf[NioLocalFileSystem])
    assert(!(a eq new Path(s"file:$root").getFileSystem(conf)), "one instance per lookup")
    assert(NioLocalFileSystem.options.keys.forall(_.startsWith("fs.file.")))
  }
}
