package graft.pipeline

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem the pipeline writes its own output through.
  *
  * It is Hadoop's checksummed [[LocalFileSystem]] (same `.crc` sidecars,
  * same umask, same file and directory modes) over a [[RawLocalFileSystem]]
  * whose `setPermission` is a `java.nio` call. Without libhadoop, the stock
  * `setPermission` starts a `chmod` process, and the raw FileSystem calls it
  * on every `create` and every `mkdirs`: one process per bucket file, per
  * `.crc` sidecar and per directory of a pass. HDFS and object stores never
  * take that path, so only `file:` is routed here ([[PosixLocalFileSystem.options]]).
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  /** Hadoop options that route `file:` paths to [[PosixLocalFileSystem]].
    * Spark merges writer options into the write job's Hadoop conf on the
    * driver and the executors. The FileSystem cache is keyed by scheme, not
    * by conf, and every executor has cached the stock `file:` FileSystem
    * while reading the input, so the cache is bypassed for these confs.
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` with [[options]] set; other schemes resolve as before. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Owner, group and others bits, in the order of an `rwxrwxrwx` mode. */
  private val ModeBits = PosixFilePermission.values

  final class Raw extends RawLocalFileSystem {
    /** The nine mode bits with one syscall; the sticky bit, which `java.nio`
      * cannot set, and non-POSIX hosts keep Hadoop's own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort.toInt
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (i <- ModeBits.indices if (mode & (0x100 >> i)) != 0) perms.add(ModeBits(i))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }
}
