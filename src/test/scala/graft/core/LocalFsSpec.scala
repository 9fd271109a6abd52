package graft.core

import java.io.File
import java.net.URI
import java.nio.file.Files

import graft.SparkSpec
import graft.rentals.{Fixtures, Io, Transforms}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** [[ForkFreeRawLocalFileSystem]] sets the same permissions as Hadoop's own
  * local filesystem, and a fork-free [[Io.writeProcessed]] leaves the same
  * layout (`.crc` shadows, one file per partition, permission bits) as a
  * plain Spark parquet write.
  */
class LocalFsSpec extends SparkSpec {

  private def local[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def perms(f: File) = Files.getPosixFilePermissions(f.toPath)

  test("setPermission matches Hadoop's chmod path for plain rwx modes") {
    withTempDir { dir =>
      val hadoop = local(new RawLocalFileSystem)
      val forkFree = local(new ForkFreeRawLocalFileSystem)
      Seq("644", "755", "600", "750").foreach { octal =>
        val mode = new FsPermission(Integer.parseInt(octal, 8).toShort)
        val a = new File(dir, s"hadoop-$octal")
        val b = new File(dir, s"forkfree-$octal")
        Seq(a, b).foreach { f =>
          assert(f.createNewFile())
          Files.setPosixFilePermissions(f.toPath,
            java.nio.file.attribute.PosixFilePermissions.fromString("rwxrwxrwx"))
        }
        hadoop.setPermission(new Path(a.getAbsolutePath), mode)
        forkFree.setPermission(new Path(b.getAbsolutePath), mode)
        assert(perms(b) === perms(a), octal)
        assert(java.nio.file.attribute.PosixFilePermissions.toString(perms(b)) ===
          mode.toString, octal)
      }
    }
  }

  test("a sticky-bit mode falls back to Hadoop's own setPermission") {
    withTempDir { dir =>
      val d = new File(dir, "shared")
      assert(d.mkdir())
      local(new ForkFreeRawLocalFileSystem)
        .setPermission(new Path(d.getAbsolutePath), new FsPermission(Integer.parseInt("1755", 8).toShort))
      // NIO cannot set the sticky bit: seeing it proves the fallback ran
      val mode = Files.getAttribute(d.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
      assert(mode === Integer.parseInt("1755", 8))
    }
  }

  test("writeProcessed keeps .crc files, one file per partition and the plain write's permissions") {
    withTempDir { dir =>
      val long = mkDf(Fixtures.longSchema, Fixtures.longRows).transform(Transforms.cleanNulls)
      val forkFree = new File(dir, "forkfree")
      val plain = new File(dir, "plain")
      Io.writeProcessed(long, forkFree.getAbsolutePath)
      long.withColumn("year", year(col("month"))).write
        .partitionBy("StateName", "year").parquet(plain.getAbsolutePath)

      def walk(f: File): Seq[File] =
        f +: Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      val files = walk(forkFree)
      val parts = files.filter(_.getName.startsWith("part-"))
      val leaves = files.filter(f => f.isDirectory && f.getName.startsWith("year="))
      assert(leaves.nonEmpty)
      leaves.foreach { l =>
        assert(l.listFiles().count(_.getName.startsWith("part-")) === 1, l.getPath)
      }
      parts.foreach { p =>
        assert(new File(p.getParentFile, s".${p.getName}.crc").isFile, p.getPath)
      }
      def modes(root: File) = walk(root).groupBy(_.isDirectory).map {
        case (isDir, fs) => isDir -> fs.map(perms).toSet
      }
      assert(modes(forkFree) === modes(plain))
      assert(Io.readProcessed(spark, forkFree.getAbsolutePath).count() === long.count())
    }
  }
}
