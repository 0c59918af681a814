package graft.pipeline

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem with a fork-free `setPermission`.
  *
  * Without the native `libhadoop` (Spark distributions do not ship it),
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and the
  * checksummed local filesystem calls it on every `create` (data file and
  * `.crc`) and every `mkdirs`: a few milliseconds a call, most of a
  * bucketed write's wall time. The same rwx bits go through `Files.setPosixFilePermissions`
  * instead. Modes NIO cannot express (sticky bit) and non-POSIX stores
  * keep Hadoop's own path.
  */
final class PosixLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values().zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** [[PosixLocalFileSystem]] under the checksummed `file:` filesystem, so
  * `.crc` sidecars are written exactly as with Hadoop's `LocalFileSystem`.
  */
final class PosixChecksumFileSystem extends LocalFileSystem(new PosixLocalFileSystem)

/** Filesystem access for the pipeline's output sinks: commit markers and
  * listings through [[fs]], and Spark writes through [[writeOptions]], so
  * that both sides of a `file:` sink use the fork-free local filesystem.
  * Every other scheme (hdfs, s3a, ...) gets Hadoop's filesystem unchanged.
  *
  * A sink directory counts as written only once it carries its commit
  * marker, created after the job that produced it completed. A directory
  * without it is a partial write (crash between task commits, speculative
  * leftovers, FileOutputCommitter v2 partials): existence alone is never
  * completion.
  */
object Sink {
  private val CommitMarker = "_COMMITTED"

  private def isLocal(conf: Configuration, path: Path): Boolean = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme == "file"
  }

  /** The filesystem of `path`: fork-free local when the path, qualified
    * against `fs.defaultFS`, is a `file:` path; `path.getFileSystem`
    * otherwise.
    */
  def fs(spark: SparkSession, path: Path): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!isLocal(conf, path)) path.getFileSystem(conf)
    else {
      val fs = ReflectionUtils.newInstance(classOf[PosixChecksumFileSystem], conf)
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
  }

  /** DataFrameWriter options that make Spark's task-side creates and its
    * output committer use [[PosixChecksumFileSystem]] for a `file:`
    * destination; empty for every other scheme. Hadoop caches filesystems
    * by scheme, authority and user, so the cache is bypassed for `file:`
    * in this write's configuration, or the stock cached instance would be
    * reused.
    */
  def writeOptions(spark: SparkSession, path: String): Map[String, String] =
    if (!isLocal(spark.sparkContext.hadoopConfiguration, new Path(path))) Map.empty
    else Map("fs.file.impl" -> classOf[PosixChecksumFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")

  /** Writes the empty commit marker `dir/name`. */
  def mark(fs: FileSystem, dir: Path, name: String = CommitMarker): Unit =
    fs.create(new Path(dir, name), true).close()

  /** Whether the commit marker `dir/name` exists. */
  def committed(fs: FileSystem, dir: Path, name: String = CommitMarker): Boolean =
    fs.exists(new Path(dir, name))
}
