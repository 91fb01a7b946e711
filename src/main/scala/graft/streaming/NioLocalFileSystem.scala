package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** `file:` without child processes. When libhadoop is not loaded,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a new process for every
  * file and directory it creates (11-15 ms each, against 0.2 ms through
  * java.nio); this one sets the same rwx bits through java.nio. A mode with a
  * sticky bit still goes the stock way. The sinks select it per write
  * ([[NioLocalFileSystem.options]]) and the checkpoint through
  * [[NioCheckpointFileManager]], never as the session's `file:`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if ((perm.toShort & ~0x1ff) != 0) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.toString))
  }

  /** Hadoop settings that route one write's `file:` paths here. The cache is
    * off so that `FileSystem.get` does not hand back a cached stock instance. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `base` with [[options]] applied, for a sink's own FileSystem handle. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

/** The streaming checkpoint manager that `GraftSession` sets and every
  * `StreamJobs` pipeline pins at its start ([[NioCheckpointFileManager.pin]]):
  * for a `file:` checkpoint, Spark's
  * `FileSystemBasedCheckpointFileManager` over [[NioLocalFileSystem]], so an
  * offset, commit or state file is written, renamed and listed without a
  * child process. Spark's default, the `FileContext`-based manager, runs
  * `readlink` in a new process for every rename and `chmod` for every file it
  * creates when libhadoop is not loaded (about 31 a micro-batch of the
  * summary pipeline). The rename is `File.renameTo`, atomic on a POSIX local
  * filesystem. Any other scheme gets Spark's default manager. */
class NioCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val underlying: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file")
      new FileSystemBasedCheckpointFileManager(path, NioLocalFileSystem.conf(conf))
    else {
      val c = new Configuration(conf)
      c.unset(NioCheckpointFileManager.pin._1)
      CheckpointFileManager.create(path, c)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean) =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = underlying.open(p)
  override def list(p: Path, filter: PathFilter) = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object NioCheckpointFileManager {
  /** The session setting that selects this manager. */
  val pin: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[NioCheckpointFileManager].getName
}
