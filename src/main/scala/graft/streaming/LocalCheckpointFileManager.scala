package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A `CheckpointFileManager` that commits local (`file:`) checkpoint files
  * with `java.nio` instead of Hadoop's local file system.
  *
  * Without the native libhadoop, Hadoop's local FS forks a `chmod` for every
  * file it creates (the file and its `.crc`) and a `readlink` for every
  * `FileContext` path it resolves. Spark's default manager pays about ten
  * forks, about 40 ms, per offset- or commit-log entry, where the disk needs a
  * fraction of a millisecond. The Structured Streaming contract is kept:
  *  - `createAtomic` writes `.<name>.<uuid>.tmp` next to the target and
  *    publishes it on `close` — an atomic rename when overwriting is
  *    allowed, a hard link otherwise, so an existing target raises Hadoop's
  *    `FileAlreadyExistsException` (how `HDFSMetadataLog` detects a
  *    concurrent writer); `cancel` deletes the temp file;
  *  - `open`/`list`/`exists`/`delete` go through Hadoop's raw local FS,
  *    which reads and deletes without shelling out.
  *
  * No `.crc` is written. A checkpoint written by Spark's default manager
  * reads as before (its `.crc` files are not verified, and `list` hides
  * them like the checksummed FS does); a file this manager replaces or
  * deletes loses its `.crc` with it, so the default manager can read the
  * checkpoint again. Publishing without overwrite needs hard links, which
  * every POSIX local file system has.
  *
  * Any other scheme (hdfs, s3a, …) goes to the manager Spark would create
  * without this class configured. [[graft.SparkEntry.install]] names this
  * class under [[LocalCheckpointFileManager.Key]].
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** Spark's own choice for a non-local path; None for `file:`. */
  private[streaming] val delegate: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") None
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(Key)
      Some(CheckpointFileManager.create(path, conf))
    }
  }

  private lazy val raw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), hadoopConf)
    fs
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream] {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicLocalOutput(tmp, target, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = delegate.fold(raw.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.fold(
    raw.listStatus(p, (f: Path) => !isChecksum(f.getName) && filter.accept(f)))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    delegate.fold[Unit](Files.createDirectories(nio(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = delegate.fold(raw.exists(p))(_.exists(p))

  /** Deletes `p` (recursively) with its `.crc`; a missing `p` is not an error. */
  override def delete(p: Path): Unit = delegate.fold[Unit] {
    raw.delete(p, true)
    Files.deleteIfExists(crcOf(nio(p)))
  }(_.delete(p))

  override def isLocal: Boolean = delegate.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = delegate.fold {
    Files.createDirectories(nio(path))
    raw.makeQualified(path)
  }(_.createCheckpointDirectory())

  override def close(): Unit = delegate.foreach(_.close())

  private def nio(p: Path): NioPath = Paths.get(raw.makeQualified(p).toUri)
}

object LocalCheckpointFileManager {

  /** Spark's conf for the class `CheckpointFileManager.create` instantiates. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** The checksummed local FS's name for its checksum files. */
  private def isChecksum(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")

  private def crcOf(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  private final class AtomicLocalOutput(tmp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crcOf(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            Files.deleteIfExists(crcOf(target))
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() catch { case _: IOException => () }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
