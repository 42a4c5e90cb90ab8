package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, FileAlreadyExistsException => NioFileExists, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** A checkpoint file manager for checkpoints on the local filesystem that
  * starts no process.
  *
  * Every micro-batch writes two checkpoint-log files (`offsets/N` before the
  * batch, `commits/N` after it). Spark's default manager writes them through
  * Hadoop's `FileContext`, and without the NativeIO library Hadoop's local
  * filesystem forks a `readlink` per path resolution and a `chmod` per
  * created file: about 8 + 2 child processes, ~37 ms, per log file. This
  * manager creates, publishes and makes directories with `java.nio` system
  * calls instead (~0.35 ms per log file).
  *
  * It extends Spark's `FileSystemBasedCheckpointFileManager` for its
  * publish protocol, not for its writes: Spark's rename helper trait is
  * sealed, and this is how its `RenameBasedFSDataOutputStream` (temp file,
  * rename on `close()`, delete on `cancel()`) stays Spark's code. Reads,
  * listings, existence checks and deletes are inherited and go through
  * Hadoop's [[LocalFileSystem]], which forks nothing for them and verifies a
  * `.crc` sibling where one exists. Overridden here:
  *   - temp files are written with `Files.newOutputStream` (Hadoop's local
  *     `create` runs `chmod` on every file it creates);
  *   - publish with overwrite is `rename(2)`, atomic and replacing;
  *   - publish without overwrite is `link(2)`, which fails atomically when
  *     the target exists. That failure is raised as Hadoop's
  *     [[FileAlreadyExistsException]], the type `HDFSMetadataLog` turns into
  *     its "concurrent queries on one checkpoint" error, so two writers of
  *     one batch never both win (an exists-then-rename check would let them);
  *   - directories are made with `Files.createDirectories`.
  *
  * Files are published without a `.crc` sibling; a stale one left by
  * Spark's default manager is deleted on publish, so a later checksummed
  * read of either manager's files still passes. Nothing is fsynced, as with
  * the default manager. Only the local filesystem is served: a path on any
  * other is rejected with `IllegalArgumentException`. [[Sinks]] installs
  * this class for its own queries; see there for the scope and the override.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val local: LocalFileSystem = fs match {
    case l: LocalFileSystem => l
    case other => throw new IllegalArgumentException(
      s"LocalCheckpointFileManager serves only the local filesystem, not ${other.getUri} ($path)")
  }

  private def nio(p: Path): java.nio.file.Path = local.pathToFile(p).toPath

  override def createTempFile(p: Path): FSDataOutputStream = {
    val file = nio(p)
    Files.createDirectories(file.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)), null)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val (from, to, crc) = (nio(src), nio(dst), nio(local.getChecksumFile(dst)))
    if (overwriteIfPossible) {
      Files.deleteIfExists(crc)
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      // a target that is already there keeps its own .crc
      try Files.createLink(to, from)
      catch { case e: NioFileExists =>
        throw new FileAlreadyExistsException(s"$dst already exists: ${e.getMessage}") }
      Files.deleteIfExists(crc)
      Files.delete(from)
    }
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(path))
    local.makeQualified(path)
  }
}
