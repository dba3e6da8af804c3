package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.LinkOption.NOFOLLOW_LINKS
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileAlreadyExistsException, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's local one, except that it starts
  * no OS process. Without libhadoop, Hadoop's `RawLocalFileSystem`
  * spawns `chmod` in `setPermission` (every file and dir it creates) and
  * `readlink` in `getFileLinkStatus` (every `FileContext.rename`), about
  * 1.6 ms each; [[Raw]] makes both calls through `java.nio`. `.crc`
  * sidecars, checksum-verified reads and Spark's checkpoint protocol
  * stay as they are; [[Context]] only makes a publish exclusive.
  *
  * [[fileSystem]] installs it for the `FileSystem` API. Hadoop caches one
  * `file:` `FileSystem` per process and user, so it must be set before
  * the first `file:` lookup: `GraftSession` sets it at build.
  * [[fileContext]] installs it for `FileContext`, which Spark's
  * checkpoint manager uses and which makes a new filesystem per manager,
  * so a scoped conf reaches it: every streaming gate runs under it
  * (`StreamingQueries.gateExecConfs`), in any session.
  */
object LocalFs {

  /** `RawLocalFileSystem` with its mode and link-status decisions made
    * through `java.nio`, reporting what Hadoop's shell calls report for
    * a plain path. (Hadoop hands `readlink` the path's string, so for a
    * `file:` URI, the form `FileContext` passes, it never sees a link;
    * this sees it in both forms.) */
  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      // POSIX file permissions have no sticky bit: that one is chmod's
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    override def getFileLinkStatus(f: Path): FileStatus = {
      val status = linkStatus(f)
      if (status.isSymlink)
        status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
      status
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** As Hadoop reports it: a file or dir's own status; for a link, the
      * target as written, with the status of what it points to, or an
      * empty status when it dangles. (`isSymbolicLink` does not follow
      * the link; the attributes do.) */
    private def linkStatus(f: Path): FileStatus = {
      val link = pathToFile(f).toPath
      if (!Files.isSymbolicLink(link)) getFileStatus(f)
      else {
        val target = new Path(Files.readSymbolicLink(link).toString)
        if (!Files.exists(link))
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        else {
          val to = getFileStatus(f)
          val attrs = Files.readAttributes(link, classOf[PosixFileAttributes])
          new FileStatus(to.getLen, false, to.getReplication, to.getBlockSize,
            to.getModificationTime, to.getAccessTime,
            FsPermission.valueOf("-" + PosixFilePermissions.toString(attrs.permissions)),
            attrs.owner.getName, attrs.group.getName, target, f)
        }
      }
    }
  }

  /** The `FileSystem` API entry: Hadoop's `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** The `FileContext` API entry: Hadoop's `ChecksumFs` over [[Raw]], as
    * Hadoop's own `LocalFs` is over its `RawLocalFs`, except for renaming
    * a file, which is how Spark's checkpoint manager publishes one.
    * Hadoop checks that the target is absent, then renames over it, so
    * two racing publishes can both win. It then renames the sidecar
    * without overwrite, which fails after the file has landed when a file
    * deleted alone left its sidecar at the target. Here:
    *  - without overwrite, a hard link (atomic and exclusive), then an
    *    unlink. The loser throws `FileAlreadyExistsException`, and its
    *    file and sidecar are deleted: Spark's stream abandons them;
    *  - with overwrite, one atomic move;
    *  - then the sidecar moves over any stale one, or a stale one goes. */
  class Context(uri: URI, conf: Configuration, raw: Raw)
      extends ChecksumFs(new DelegateToFileSystem(uri, raw, conf, "file", false) {
        // as RawLocalFs: the OS judges names, and the defaults are local
        override def isValidName(src: String): Boolean = true
        override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
      }) {
    def this(uri: URI, conf: Configuration) = this(uri, conf, new Raw)

    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
      val (from, to) = (nio(src), nio(dst))
      if (!Files.isRegularFile(from, NOFOLLOW_LINKS)) super.renameInternal(src, dst, overwrite)
      else {
        if (overwrite) Files.move(from, to, ATOMIC_MOVE)
        else {
          try Files.createLink(to, from)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            if (!Files.isSameFile(from, to)) delete(src, false)
            throw new FileAlreadyExistsException(s"Rename destination $dst already exists.")
          }
          Files.delete(from)
        }
        val (fromSums, toSums) = (nio(getChecksumFile(src)), nio(getChecksumFile(dst)))
        if (Files.exists(fromSums)) Files.move(fromSums, toSums, ATOMIC_MOVE)
        else Files.deleteIfExists(toSums)
      }
    }

    private def nio(p: Path): NioPath = raw.pathToFile(p).toPath
  }

  val fileSystem: (String, String) = "spark.hadoop.fs.file.impl" -> classOf[Checksummed].getName
  val fileContext: (String, String) = "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName
}
