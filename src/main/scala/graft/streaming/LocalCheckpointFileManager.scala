package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A streaming [[CheckpointFileManager]] that never starts an OS process
  * for a `file:` checkpoint.
  *
  * Without libhadoop, Hadoop's local filesystem spawns `chmod` for every
  * file or directory it creates with a permission and `readlink` for
  * every `FileContext.rename`, so Spark's default manager pays about 150
  * process spawns (about 1.6 ms each from a JVM on a 4-core host) per
  * small streaming query: offsets, commits, metadata, source logs and
  * every state-store file.
  *
  *   - `createAtomic` writes a hidden sibling temp file with
  *     `java.nio.file.Files`. `close` publishes it by an atomic rename
  *     when overwriting, else by a hard link, which is atomic and
  *     exclusive: an existing target throws Hadoop's
  *     `FileAlreadyExistsException`, which `HDFSMetadataLog` reports as
  *     a concurrent writer. `cancel` deletes the temp file.
  *   - `mkdirs` is `Files.createDirectories`.
  *   - `open`, `list`, `exists` and `delete` go through the path's cached
  *     `LocalFileSystem`, which spawns nothing for them and verifies a
  *     `.crc` sidecar where one exists. Files written here get no Hadoop
  *     `.crc`; publishing drops a stale one left beside the target (by a
  *     checkpoint written under another manager), so reads never check
  *     new bytes against old sums.
  *   - Any other scheme is forwarded to Spark's own
  *     `FileContextBasedCheckpointFileManager`.
  *
  * Spark still wraps state-store files in its `ChecksumCheckpointFileManager`,
  * so those keep their checksum sidecars and verification. Installed by
  * `spark.sql.streaming.checkpointFileManagerClass` around every streaming
  * gate ([[StreamingQueries]]); queries capture it at `start()`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private val fs = path.getFileSystem(hadoopConf)
  private val remote: Option[CheckpointFileManager] =
    if (fs.getUri.getScheme == "file") None
    else Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))

  private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold(atomicFile(nio(p), overwriteIfPossible))(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = remote.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    remote.fold(fs.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    remote.fold[Unit](Files.createDirectories(nio(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(fs.exists(p))(_.exists(p))

  override def delete(p: Path): Unit = remote.fold[Unit](fs.delete(p, true))(_.delete(p))

  override def isLocal: Boolean = remote.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    val qualified = fs.makeQualified(path)
    mkdirs(qualified)
    qualified
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())

  private def atomicFile(target: NioPath, overwrite: Boolean): CancellableFSDataOutputStream = {
    val name = target.getFileName.toString
    val tmp = target.resolveSibling(s".$name.${java.util.UUID.randomUUID}.tmp")
    val staleCrc = target.resolveSibling(s".$name.crc")
    new CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE))) {
      private var done = false
      override def close(): Unit = if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(staleCrc)
            Files.move(tmp, target, ATOMIC_MOVE)
          } else {
            if (Files.notExists(target)) Files.deleteIfExists(staleCrc)
            try Files.createLink(target, tmp)
            catch { case e: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target exists: ${e.getMessage}")
            }
          }
        } finally Files.deleteIfExists(tmp)
      }
      override def cancel(): Unit = {
        done = true
        try super.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}
