package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` without child processes. When libhadoop is not loaded,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a new process for every
  * file and directory it creates (11-15 ms each, against 0.2 ms through
  * java.nio); this one sets the same rwx bits through java.nio. A mode with a
  * sticky bit still goes the stock way. The sinks select it per write
  * ([[NioLocalFileSystem.options]]), never session-wide. */
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
