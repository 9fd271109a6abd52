package graft.sources

import graft.SparkSpec

/** Binary delete-vector SIDECARS ([[PosBitmap]] + [[TableMetadata]]): a
  * delete vector past the inline threshold lives as a compressed-bitmap
  * file referenced by name + cardinality, so the metadata plane's size is
  * INDEPENDENT of deleted-row count, recovery round-trips positions AND
  * kill versions exactly (time travel + CDC), and the orphan sweep
  * reclaims superseded vectors like superseded data files.
  */
class DvSidecarSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def metaLen(dir: String): Long =
    new java.io.File(dir, TableMetadata.FileName).length()

  private def dvFiles(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("dv-") && f.getName.endsWith(".bin"))

  test("metadata plane size is independent of deleted-row count") {
    catalogOn(); drop("dv_big")
    spark.sql("CREATE TABLE graft.dv_big (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.dv_big SELECT id, id FROM range(0, 30000)")
    val dir = MemTables.get("dv_big").get.storageDir
    // a tiny delete: DVs stay inline, no sidecar yet
    spark.sql("DELETE FROM graft.dv_big WHERE v < 10")
    val smallLen = metaLen(dir)
    assert(dvFiles(dir).isEmpty, "10 positions must stay inline")
    // a big delete: 15k more kills — the plane grows by bounded file
    // references, never by O(deleted rows) of JSON integers
    spark.sql("DELETE FROM graft.dv_big WHERE v >= 10 AND v < 15010")
    val bigLen = metaLen(dir)
    assert(dvFiles(dir).nonEmpty, "15k positions must land as a sidecar")
    assert(bigLen - smallLen < 4096,
      s"metadata.json grew by ${bigLen - smallLen} bytes for 15k deletes — " +
        "positions are leaking inline")
    assert(spark.table("graft.dv_big").count() === 14990L)
    drop("dv_big")
  }

  test("recovery round-trips sidecar positions and kill versions exactly") {
    catalogOn(); drop("dv_rec")
    spark.sql("CREATE TABLE graft.dv_rec (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.dv_rec SELECT id, id FROM range(0, 5000)")
    val vAfterInsert = MemTables.get("dv_rec").get.version
    spark.sql("DELETE FROM graft.dv_rec WHERE v < 2000")
    val vAfterD1 = MemTables.get("dv_rec").get.version
    spark.sql("DELETE FROM graft.dv_rec WHERE v >= 4000")
    // restart drill: drop in-memory state, recover from the plane
    spark.sql("CALL graft.unload_table('dv_rec')")
    assert(spark.table("graft.dv_rec").count() === 2000L)
    // time travel needs the KILL VERSIONS back, not just positions
    assert(spark.sql(
      s"SELECT count(*) FROM graft.dv_rec VERSION AS OF $vAfterInsert")
      .head().getLong(0) === 5000L)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.dv_rec VERSION AS OF $vAfterD1")
      .head().getLong(0) === 3000L)
    drop("dv_rec")
  }

  test("orphan sweep keeps referenced sidecars, reclaims superseded ones") {
    catalogOn(); drop("dv_gc")
    spark.sql("CREATE TABLE graft.dv_gc (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.dv_gc SELECT id, id FROM range(0, 10000)")
    val dir = MemTables.get("dv_gc").get.storageDir
    spark.sql("DELETE FROM graft.dv_gc WHERE v < 3000")
    val firstGen = dvFiles(dir).map(_.getName).toSet
    assert(firstGen.nonEmpty)
    // the referenced sidecar survives a zero-grace sweep
    MemTables.removeOrphanFiles("dv_gc", graceMillis = 0L)
    assert(dvFiles(dir).map(_.getName).toSet === firstGen)
    // more kills on a batch mint a NEW content-derived name; its old
    // file is then unreferenced and a zero-grace sweep reclaims it
    spark.sql("DELETE FROM graft.dv_gc WHERE v >= 3000 AND v < 4000")
    val referencedNow = MemTables.get("dv_gc").get.batches
      .flatMap(TableMetadata.dvFileNameOf).toSet
    val superseded = firstGen -- referencedNow
    assert(superseded.nonEmpty, "new kills must supersede that batch's sidecar")
    MemTables.removeOrphanFiles("dv_gc", graceMillis = 0L)
    val afterSweep = dvFiles(dir).map(_.getName).toSet
    assert(superseded.forall(!afterSweep.contains(_)),
      "superseded sidecars must be swept")
    assert(referencedNow.subsetOf(afterSweep),
      "live sidecars must survive the sweep")
    assert(spark.table("graft.dv_gc").count() === 6000L)
    drop("dv_gc")
  }

  test("PosBitmap codec round-trips run-shaped and sparse vectors") {
    val runShaped = (1000 until 250000).map(p => p -> 7L).toMap
    val bytes = PosBitmap.dvToBytes(runShaped)
    // a 249k-position run compresses to near-constant size
    assert(bytes.length < 2048, s"run-shaped DV was ${bytes.length} bytes")
    assert(PosBitmap.dvFromBytes(bytes) === runShaped)
    val mixed = Map(1 -> 3L, 17 -> 3L, 999999 -> 12L, 0 -> 12L)
    assert(PosBitmap.dvFromBytes(PosBitmap.dvToBytes(mixed)) === mixed)
    // content hash: order-independent, version-sensitive
    assert(PosBitmap.dvContentHash(mixed) ===
      PosBitmap.dvContentHash(mixed.toSeq.reverse.toMap))
    assert(PosBitmap.dvContentHash(mixed) !==
      PosBitmap.dvContentHash(mixed.updated(1, 4L)))
    // positions-only ship shape (EvalResult.matched)
    val pos = Array(5, 6, 7, 100000)
    assert(PosBitmap.toArray(PosBitmap.toBytes(pos)) === pos)
    assert(PosBitmap.cardinality(PosBitmap.toBytes(pos)) === 4)
  }
}
