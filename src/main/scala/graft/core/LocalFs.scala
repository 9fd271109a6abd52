package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A `RawLocalFileSystem` that sets permissions in-process.
  *
  * Without the native `libhadoop`, Hadoop's local filesystem applies every
  * permission by running `chmod` as a child process — once per file it
  * creates (and once more for that file's `.crc`) and once per directory
  * `mkdirs` creates. A partitioned write of a few hundred hive directories
  * spends most of its task time forking. Here the same 9 permission bits go
  * through `Files.setPosixFilePermissions` instead; a mode NIO cannot
  * express (the sticky bit) or a non-POSIX filesystem takes Hadoop's own
  * path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      // re-built from the bits: a subclass (FsCreateModes) overrides toString
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(mode).toString))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
  }
}

/** The checksummed (`.crc`-writing) local filesystem over
  * [[ForkFreeRawLocalFileSystem]] — what `file:` resolves to by default,
  * minus the `chmod` forks.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Selecting the fork-free local filesystems per Hadoop configuration.
  *
  * Both selections disable Hadoop's FileSystem cache for the `file:` scheme
  * in that configuration: the cache is keyed by scheme and user, not by
  * configuration, so whoever resolved `file:` first would otherwise win for
  * the whole JVM. The session-wide `file:` binding is never changed, and
  * other schemes (`s3a://`, `hdfs://`) are untouched.
  */
object LocalFs {

  /** Hadoop keys selecting the checksummed fork-free filesystem. As
    * DataFrameWriter options they reach the write job's Hadoop
    * configuration (Spark copies writer options into it), so only that
    * write uses them.
    */
  val checksummedOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Binds `file:` in `c` to the raw fork-free filesystem: no `.crc`
    * shadows (parquet pages and metadata documents carry their own
    * integrity checks) and no `chmod` forks. Returns `c`.
    */
  def useRaw(c: Configuration): Configuration = {
    c.set("fs.file.impl", classOf[ForkFreeRawLocalFileSystem].getName)
    c.set("fs.file.impl.disable.cache", "true")
    c
  }
}
