package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Vectorized (columnar) reads of file-backed tables
  * ([[ParquetColumnar]]): plain scans report and serve `ColumnarBatch`es
  * through Spark's vectorized parquet readers; DV kills, head cuts, and
  * the row-id metadata columns stay exact via the parquet row index; and
  * every shape the columnar projection cannot express (type widening)
  * falls back to the row path — uniformly per
  * scan, with identical results.
  */
class ColumnarReadSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def scanIsColumnar(df: org.apache.spark.sql.DataFrame): Boolean = {
    df.collect() // force execution so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case b: BatchScanExec => b
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        return a.executedPlan.collectFirst { case b: BatchScanExec => b }
          .exists(_.supportsColumnar)
    }
    scans.nonEmpty && scans.forall(_.supportsColumnar)
  }

  test("plain file-backed scans report and serve columnar batches") {
    catalogOn(); drop("col_t")
    spark.sql("CREATE TABLE graft.col_t (k BIGINT, s STRING, d DOUBLE) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.col_t " +
      "SELECT id, concat('s', id), id * 0.5 FROM range(0, 1000)")
    val df = spark.sql("SELECT k, s, d FROM graft.col_t")
    assert(scanIsColumnar(df), "file-backed plain scan must be columnar")
    assert(df.count() === 1000L)
    val r = spark.sql(
      "SELECT sum(k) AS sk, count(DISTINCT s) AS cs, sum(cast(d*2 AS BIGINT)) AS sd " +
        "FROM graft.col_t").collect().head
    assert(r.getLong(0) === (0L until 1000L).sum)
    assert(r.getLong(1) === 1000L)
    assert(r.getLong(2) === (0L until 1000L).sum)
    drop("col_t")
  }

  test("DV kills filter columnar batches exactly (positions via row index)") {
    catalogOn(); drop("col_dv")
    spark.sql("CREATE TABLE graft.col_dv (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.col_dv SELECT id, id * 3 FROM range(0, 10000)")
    spark.sql("DELETE FROM graft.col_dv WHERE k % 7 = 0")
    val df = spark.sql("SELECT k, v FROM graft.col_dv")
    assert(scanIsColumnar(df), "MoR overlay scan must stay columnar")
    val expect = (0L until 10000L).filterNot(_ % 7 == 0)
    assert(df.count() === expect.size.toLong)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.map(_._1).toSeq === expect)
    assert(got.forall { case (k, v) => v == k * 3 })
    drop("col_dv")
  }

  test("row-id metadata columns are exact under columnar reads") {
    catalogOn(); drop("col_meta")
    spark.sql("CREATE TABLE graft.col_meta (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    // single-slice ranges: one write task → one batch per INSERT, so the
    // in-batch ordinal is k % 100 by construction
    spark.sql("INSERT INTO graft.col_meta SELECT id FROM range(0, 100, 1, 1)")
    spark.sql("INSERT INTO graft.col_meta SELECT id + 100 FROM range(0, 100, 1, 1)")
    spark.sql("DELETE FROM graft.col_meta WHERE k % 10 = 3")
    val df = spark.sql(
      "SELECT _batch_version, _batch_id, _batch_pos, k FROM graft.col_meta")
    assert(scanIsColumnar(df), "metadata-column scan must stay columnar")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.length === 180)
    // position equals the row's ordinal within its file even with kills
    // interleaved, and ids/versions differ across the two batches
    assert(rows.groupBy(_._2).size === 2)
    rows.foreach { case (_, _, pos, k) => assert(pos.toLong === k % 100,
      s"position must be the in-batch ordinal (k=$k pos=$pos)") }
    drop("col_meta")
  }

  test("pushed LIMIT head cut is exact under columnar reads") {
    catalogOn(); drop("col_lim")
    spark.sql("CREATE TABLE graft.col_lim (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.col_lim SELECT id FROM range(0, 50000)")
    val df = spark.sql("SELECT k FROM graft.col_lim LIMIT 37")
    assert(df.count() === 37L)
    drop("col_lim")
  }

  test("type widening falls back to the row path, results unchanged") {
    catalogOn(); drop("col_widen")
    spark.sql("CREATE TABLE graft.col_widen (k INT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.col_widen VALUES (1), (2), (3)")
    spark.sql("ALTER TABLE graft.col_widen ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO graft.col_widen VALUES (4000000000)")
    val df = spark.sql("SELECT k FROM graft.col_widen")
    assert(!scanIsColumnar(df),
      "a pre-widening batch needs per-value conversion — must fall back to rows")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4000000000L))
    drop("col_widen")
  }

  test("ADD COLUMN defaults serve as constant vectors, columnar intact") {
    catalogOn(); drop("col_def")
    spark.sql("CREATE TABLE graft.col_def (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.col_def VALUES (1), (2)")
    spark.sql("ALTER TABLE graft.col_def ADD COLUMN tag STRING DEFAULT 'old'")
    spark.sql("INSERT INTO graft.col_def VALUES (3, 'new')")
    val df = spark.sql("SELECT k, tag FROM graft.col_def")
    assert(scanIsColumnar(df),
      "an unresolved column with an atomic default must stay columnar")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .toSeq === Seq((1L, "old"), (2L, "old"), (3L, "new")))
    drop("col_def")
  }

  test("renamed columns resolve columnarly through their era names") {
    catalogOn(); drop("col_ren")
    spark.sql("CREATE TABLE graft.col_ren (a BIGINT, b STRING) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.col_ren VALUES (1, 'x'), (2, 'y')")
    spark.sql("ALTER TABLE graft.col_ren RENAME COLUMN a TO a2")
    spark.sql("INSERT INTO graft.col_ren VALUES (3, 'z')")
    val df = spark.sql("SELECT a2, b FROM graft.col_ren")
    assert(scanIsColumnar(df), "a rename is a name map, not a conversion")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .toSeq === Seq((1L, "x"), (2L, "y"), (3L, "z")))
    drop("col_ren")
  }

  test("nested columns (embedding arrays, structs, maps) read columnarly") {
    catalogOn(); drop("col_nested")
    spark.sql("CREATE TABLE graft.col_nested (" +
      "id BIGINT, emb ARRAY<FLOAT>, meta STRUCT<w: INT, tag: STRING>, " +
      "attrs MAP<STRING, BIGINT>) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.col_nested " +
      "SELECT id, array(CAST(id AS FLOAT), CAST(id * 2 AS FLOAT)), " +
      "named_struct('w', CAST(id % 7 AS INT), 'tag', concat('t', id)), " +
      "map('a', id, 'b', id * 3) FROM range(0, 500)")
    val df = spark.sql("SELECT id, emb, meta, attrs FROM graft.col_nested")
    assert(scanIsColumnar(df), "nested atomic compositions must vectorize")
    val rows = df.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getSeq[Float](1) === Seq(id.toFloat, (id * 2).toFloat))
      val m = r.getStruct(2)
      assert(m.getInt(0) === (id % 7).toInt && m.getString(1) === s"t$id")
      assert(r.getMap[String, Long](3) === Map("a" -> id, "b" -> id * 3))
    }
    // DV kills remap nested vectors too — struct children go through the
    // survivor map in the parent's row space
    spark.sql("DELETE FROM graft.col_nested WHERE id % 5 = 0")
    val df2 = spark.sql("SELECT id, emb, meta FROM graft.col_nested")
    assert(scanIsColumnar(df2))
    val rows2 = df2.collect()
    assert(rows2.length === 400)
    rows2.foreach { r =>
      val id = r.getLong(0)
      assert(id % 5 != 0)
      assert(r.getSeq[Float](1) === Seq(id.toFloat, (id * 2).toFloat))
      assert(r.getStruct(2).getString(1) === s"t$id",
        "struct fields must remap through the survivor map")
    }
    drop("col_nested")
  }

  test("time travel reads stay columnar and exact") {
    catalogOn(); drop("col_tt")
    spark.sql("CREATE TABLE graft.col_tt (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.col_tt VALUES (1), (2)")
    val v = MemTables.get("col_tt").get.version
    spark.sql("INSERT INTO graft.col_tt VALUES (3)")
    val df = spark.sql(s"SELECT k FROM graft.col_tt VERSION AS OF $v")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(scanIsColumnar(spark.sql(s"SELECT k FROM graft.col_tt VERSION AS OF $v")))
    drop("col_tt")
  }
}
