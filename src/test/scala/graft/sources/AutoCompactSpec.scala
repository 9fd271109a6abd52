package graft.sources

import graft.SparkSpec

/** Threshold-triggered small-file auto-compaction
  * (`graft.auto-compact-min-files` / [[RewriteJobs.maybeAutoCompact]]):
  * commits that fragment a file-backed table past the declared live-batch
  * threshold trigger one distributed rewrite — contents identical, file
  * count bounded, CDC and time travel untouched, zero driver row reads.
  */
class AutoCompactSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def live(key: String) =
    MemTables.get(key).get.batches.filter(_.removedAt == Long.MaxValue)

  test("crossing the threshold folds the layout; contents stay identical") {
    catalogOn(); drop("ac_t")
    spark.sql("CREATE TABLE graft.ac_t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.auto-compact-min-files'='6')")
    val before = ParquetRows.readCalls.get()
    // 7 tiny single-task inserts: the 6th-or-later commit trips the fold
    (0 until 7).foreach(i =>
      spark.sql(s"INSERT INTO graft.ac_t VALUES ($i, ${i * 10})"))
    val files = live("ac_t")
    assert(files.size < 6, s"auto-compact must bound the file count, got ${files.size}")
    assert(ParquetRows.readCalls.get() === before,
      "the fold is the distributed job — zero driver row reads")
    assert(spark.table("graft.ac_t").count() === 7L)
    assert(spark.sql("SELECT sum(v) FROM graft.ac_t").head().getLong(0) === 210L)
    // the fold is CDC-invisible: the change feed still shows 7 inserts
    val feed = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "ac_t").option("from", "0")
      .option("to", MemTables.get("ac_t").get.version.toString).load()
    assert(feed.filter("_change_type = 'insert'").count() === 7L)
    drop("ac_t")
  }

  test("below the threshold nothing compacts; without the property never") {
    catalogOn(); drop("ac_off", "ac_under")
    spark.sql("CREATE TABLE graft.ac_off (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    (0 until 8).foreach(i => spark.sql(s"INSERT INTO graft.ac_off VALUES ($i)"))
    assert(live("ac_off").size === 8, "no property, no trigger")
    spark.sql("CREATE TABLE graft.ac_under (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.auto-compact-min-files'='50')")
    (0 until 8).foreach(i => spark.sql(s"INSERT INTO graft.ac_under VALUES ($i)"))
    assert(live("ac_under").size === 8, "below threshold, no trigger")
    drop("ac_off", "ac_under")
  }

  test("DV density past the declared ratio folds the batch; feed invisible") {
    catalogOn(); drop("ac_dv")
    spark.sql("CREATE TABLE graft.ac_dv (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read', " +
      "'graft.auto-compact-max-dead-ratio'='0.5')")
    spark.sql("INSERT INTO graft.ac_dv SELECT id, id * 10 FROM range(0, 1000, 1, 1)")
    // 30% dead: under the ratio — the overlay stays
    spark.sql("DELETE FROM graft.ac_dv WHERE k < 300")
    assert(live("ac_dv").exists(_.dv.nonEmpty),
      "below the ratio the DV overlay must remain")
    val rowsBefore = spark.sql("SELECT k, v FROM graft.ac_dv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // +30% more dead → 60% ≥ 0.5: the commit's trigger folds the batch
    spark.sql("DELETE FROM graft.ac_dv WHERE k >= 300 AND k < 600")
    val lv = live("ac_dv")
    assert(lv.forall(_.dv.isEmpty),
      s"past the ratio the fold must clear the DV overlay, got ${lv.map(_.dv.size)}")
    assert(lv.map(_.rowCount).sum === 400,
      "the folded batches hold exactly the live rows")
    // reads byte-identical to the pre-fold state minus the second delete
    val rowsAfter = spark.sql("SELECT k, v FROM graft.ac_dv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rowsAfter === rowsBefore.filterNot { case (k, _) => k >= 300 && k < 600 })
    // the fold is CDC-invisible: the feed shows only inserts and the two
    // row-level delete windows
    val feed = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "ac_dv").option("from", "0")
      .option("to", MemTables.get("ac_dv").get.version.toString).load()
    assert(feed.filter("_change_type = 'insert'").count() === 1000L)
    assert(feed.filter("_change_type = 'delete'").count() === 600L)
    drop("ac_dv")
  }

  test("a declared sort order is re-established by the auto fold") {
    catalogOn(); drop("ac_sorted")
    spark.sql("CREATE TABLE graft.ac_sorted (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', 'graft.sort-order'='k', " +
      "'graft.auto-compact-min-files'='4')")
    // unsorted tiny inserts retire the claim; the triggered rewrite
    // (which sorts by the declared order) re-establishes it
    Seq(9L, 3L, 7L, 1L, 5L).foreach(v =>
      spark.sql(s"INSERT INTO graft.ac_sorted VALUES ($v)"))
    val st = MemTables.get("ac_sorted").get
    assert(st.sortedBy === Seq("k"),
      "auto-compaction must re-establish the declared sort order")
    assert(spark.sql("SELECT k FROM graft.ac_sorted ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L, 7L, 9L))
    drop("ac_sorted")
  }

  test("partitioned tables fold per tuple and keep pruning exact") {
    catalogOn(); drop("ac_part")
    spark.sql("CREATE TABLE graft.ac_part (g INT, k BIGINT) PARTITIONED BY (g) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.auto-compact-min-files'='8')")
    // 4 inserts × 3 tuples = 12 live batches -> trigger; fold leaves ≤ 1
    // file per tuple (partition purity preserved)
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO graft.ac_part VALUES (0, $i), (1, $i), (2, $i)"))
    val folded = live("ac_part")
    assert(folded.size <= 6, s"got ${folded.size}")
    assert(folded.map(_.part.head).distinct.size === 3)
    assert(spark.sql("SELECT count(*) FROM graft.ac_part WHERE g = 1")
      .head().getLong(0) === 4L)
    assert(spark.table("graft.ac_part").count() === 12L)
    drop("ac_part")
  }
}
