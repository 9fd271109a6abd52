package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (mirrors the reference's session
  * fixture: `tests/conftest.py:17-33` — local[2], 2 shuffle partitions,
  * UI off, UTC).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def mkDf(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Run `f` with no active and no default session — the only way left
    * to reach the sessionless paths (e.g. the read-time equality-delete
    * record of a direct upsert-epoch commit). Both are restored after.
    */
  def withoutSession[A](f: => A): A = {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f
    finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  def withTempDir[A](f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test").toFile
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(dir)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.core.GraftExtensions)
    .getOrCreate()
}
