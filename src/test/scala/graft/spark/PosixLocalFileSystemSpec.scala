package graft.spark

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** [[PosixLocalFileSystem]] writes what Hadoop's own local FileSystem
  * writes: the same modes for every permission, and the same files,
  * `.crc` sidecars and modes in an [[ExtractJob]] output tree.
  */
class PosixLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def modeOf(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission gives Hadoop's modes for every mode from 0000 to 0777") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val posix = new PosixLocalFileSystem.Raw
    Seq(stock, posix).foreach(_.initialize(URI.create("file:///"), conf))
    val tmp = Files.createTempDirectory("graft-perm")
    val targets = Seq(
      Files.createFile(tmp.resolve("stock-file")) -> Files.createFile(tmp.resolve("posix-file")),
      Files.createDirectory(tmp.resolve("stock-dir")) -> Files.createDirectory(tmp.resolve("posix-dir")))
    for (mode <- 0 to 511; (a, b) <- targets) {
      val perm = new FsPermission(mode.toShort)
      stock.setPermission(new Path(a.toUri), perm)
      posix.setPermission(new Path(b.toUri), perm)
      assert(modeOf(b) == modeOf(a), f"mode $mode%04o on ${b.getFileName}")
      assert(modeOf(b) == perm.toString, f"mode $mode%04o on ${b.getFileName}")
    }
  }

  test("an ExtractJob output tree has the stock modes and every .crc sidecar") {
    val tmp = Files.createTempDirectory("graft-modes")
    Transcripts.generate(spark, 60, seed = 23L).toDF().write.parquet(s"$tmp/in")
    ExtractJob.run(spark, ExtractJob.Args(s"$tmp/in", s"$tmp/out", buckets = 8, passes = 2))

    // the modes Hadoop's own local FileSystem gives a new file and directory
    val stock = new LocalFileSystem
    stock.initialize(URI.create("file:///"), new Configuration())
    val probe = tmp.resolve("stock")
    stock.mkdirs(new Path(probe.toUri))
    stock.create(new Path(probe.resolve("f").toUri)).close()
    val (fileMode, dirMode) = (modeOf(probe.resolve("f")), modeOf(probe))

    val tree = Files.walk(tmp.resolve("out")).iterator.asScala.toSeq
    val (dirs, files) = tree.partition(Files.isDirectory(_))
    dirs.foreach(d => assert(modeOf(d) == dirMode, d))
    files.foreach(f => assert(modeOf(f) == fileMode, f))
    val names = files.map(_.getFileName.toString)
    val written = names.filterNot(_.endsWith(".crc"))
    assert(written.exists(_.endsWith(".parquet")) && written.contains("_SUCCESS") &&
      written.contains("pass-1.done"), written)
    for (f <- files if !f.getFileName.toString.endsWith(".crc"))
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
    assert(names.size == 2 * written.size)
  }
}
