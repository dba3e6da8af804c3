package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.programsStartedDuring

/** [[LocalFs]]'s two `java.nio` decisions against Hadoop's own shell
  * calls: the mode a file or dir gets, and what a link's status reports.
  * (The checkpoint contracts on it are LocalCheckpointFileManagerSpec's.) */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: org.apache.hadoop.fs.FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("created dirs and files keep Hadoop's modes, and setPermission(0600) reads back as 0600") {
    val dir = Files.createTempDirectory("localfs_mode")
    val fs = init(new LocalFs.Checksummed)
    val sub = dir.resolve("d")
    val file = sub.resolve("f")
    val spawned = programsStartedDuring {
      assert(fs.mkdirs(new Path(sub.toUri)))
      fs.create(new Path(file.toUri)).close()
      // Hadoop's defaults under its default umask (022)
      assert(mode(sub) === "rwxr-xr-x")
      assert(mode(file) === "rw-r--r--" && mode(sub.resolve(".f.crc")) === "rw-r--r--")
      fs.setPermission(new Path(file.toUri), new FsPermission(Integer.parseInt("600", 8).toShort))
      assert(mode(file) === "rw-------")
    }
    assert(spawned.isEmpty, s"spawned: ${spawned.mkString("; ")}")
  }

  test("a symlink and a dangling link report isSymlink with their target, as Hadoop reports them") {
    val dir = Files.createTempDirectory("localfs_link")
    Files.write(dir.resolve("t"), "abc".getBytes)
    Files.createSymbolicLink(dir.resolve("l"), dir.resolve("t").getFileName)
    Files.createSymbolicLink(dir.resolve("d"), dir.resolve("missing").getFileName)
    Files.write(dir.resolve("plain"), "xy".getBytes)
    val ours = init(new LocalFs.Raw)
    val hadoops = init(new RawLocalFileSystem)
    def seen(s: FileStatus) = (s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getLen, s.isDirectory, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    for (name <- Seq("l", "d", "plain")) {
      // Hadoop's shell `readlink` sees a link only by its plain path: it
      // is handed the path's string, and a `file:` URI names no file
      val plain = new Path(dir.resolve(name).toString)
      val qualified = new Path(dir.resolve(name).toUri)
      var status: Seq[FileStatus] = Nil
      val spawned = programsStartedDuring {
        status = Seq(ours.getFileLinkStatus(plain), ours.getFileLinkStatus(qualified))
      }
      assert(spawned.isEmpty, s"$name spawned: ${spawned.mkString("; ")}")
      val hadoop = seen(hadoops.getFileLinkStatus(plain))
      assert(status.map(seen) === Seq(hadoop, hadoop), name)
      if (name != "plain") assert(ours.getLinkTarget(qualified) === hadoops.getLinkTarget(plain), name)
    }
    val link = ours.getFileLinkStatus(new Path(dir.resolve("l").toUri))
    assert(link.isSymlink && link.getSymlink === new Path(dir.resolve("t").toUri) && link.getLen === 3)
    val dangling = ours.getFileLinkStatus(new Path(dir.resolve("d").toUri))
    assert(dangling.isSymlink && dangling.getSymlink === new Path(dir.resolve("missing").toUri))
  }
}
