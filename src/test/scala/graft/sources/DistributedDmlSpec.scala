package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.sources.{EqualTo, StringContains}
import org.apache.spark.sql.types.{LongType, StructType}

/** The DISTRIBUTED row-level DML path on file-backed tables
  * ([[DistributedDml]]): arbitrary-predicate DELETE / filtered OVERWRITE
  * row evaluation and copy-on-write survivor construction run as a
  * one-task-per-file Spark job — ZERO whole-file driver materializations
  * (`ParquetRows.readCalls` is the witness), identical semantics to the
  * driver evaluator it replaced (three-valued logic, era resolution,
  * time travel, sorted-claim survival).
  */
class DistributedDmlSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def live(key: String) =
    MemTables.get(key).get.batches.filter(_.removedAt == Long.MaxValue)

  test("CoW DELETE on a file-backed table never reads files driver-side") {
    catalogOn(); drop("dml_cow")
    spark.sql("CREATE TABLE graft.dml_cow (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_cow SELECT id, id * 10 FROM range(0, 400)")
    spark.sql("INSERT INTO graft.dml_cow SELECT id + 400, id FROM range(0, 400)")
    val vBefore = MemTables.get("dml_cow").get.version
    val before = ParquetRows.readCalls.get()
    // non-partition-shaped, pushable predicate: every live batch is a
    // candidate, row evaluation + survivor writes must all ride the job
    spark.sql("DELETE FROM graft.dml_cow WHERE v >= 100 AND v < 3000")
    assert(ParquetRows.readCalls.get() === before,
      "distributed DELETE must never materialize files driver-side")
    // v in [100,3000): first batch v=10k → k in [10,300) gone (290 rows);
    // second batch v=id in [0,400) → 100..399 gone (300 rows)
    assert(spark.table("graft.dml_cow").count() === (800L - 290L - 300L))
    assert(spark.sql(
      "SELECT count(*) FROM graft.dml_cow WHERE v >= 100 AND v < 3000")
      .head().getLong(0) === 0L)
    // time travel still sees every pre-delete row
    val v = vBefore
    assert(spark.sql(
      s"SELECT count(*) FROM graft.dml_cow VERSION AS OF $v")
      .head().getLong(0) === 800L)
    drop("dml_cow")
  }

  test("CoW DELETE matching a whole batch leaves no survivor file") {
    catalogOn(); drop("dml_all")
    spark.sql("CREATE TABLE graft.dml_all (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_all SELECT id FROM range(0, 50)")
    spark.sql("INSERT INTO graft.dml_all SELECT id + 100 FROM range(0, 50)")
    val dir = MemTables.get("dml_all").get.storageDir
    val before = ParquetRows.readCalls.get()
    spark.sql("DELETE FROM graft.dml_all WHERE k >= 100") // kills batch 2 wholly
    assert(ParquetRows.readCalls.get() === before)
    assert(spark.table("graft.dml_all").count() === 50L)
    // every surviving batch is from the first insert, untouched (the
    // wholly-matched batches disappeared instead of leaving empty files)
    assert(live("dml_all").map(_.rowCount).sum === 50)
    assert(live("dml_all").forall(_.rowCount > 0))
    // no zero-row survivor parquet left behind by the job
    val orphans = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("delete-cow-"))
    assert(orphans.isEmpty, s"stray survivor files: ${orphans.mkString(",")}")
    drop("dml_all")
  }

  test("no-op DELETE burns no version and writes nothing") {
    catalogOn(); drop("dml_noop")
    spark.sql("CREATE TABLE graft.dml_noop (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_noop SELECT id FROM range(0, 50)")
    val st = MemTables.get("dml_noop").get
    val v = st.version
    val before = ParquetRows.readCalls.get()
    spark.sql("DELETE FROM graft.dml_noop WHERE k > 1000")
    assert(ParquetRows.readCalls.get() === before)
    assert(st.version === v, "zero-match delete must not mint a version")
    assert(spark.table("graft.dml_noop").count() === 50L)
    drop("dml_noop")
  }

  test("MoR DELETE records delete vectors with zero driver file reads") {
    catalogOn(); drop("dml_mor")
    spark.sql("CREATE TABLE graft.dml_mor (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.dml_mor SELECT id, id * 2 FROM range(0, 300)")
    val before = ParquetRows.readCalls.get()
    spark.sql("DELETE FROM graft.dml_mor WHERE v >= 100 AND v < 200")
    assert(ParquetRows.readCalls.get() === before,
      "MoR DELETE needs positions only — still no driver reads")
    assert(spark.table("graft.dml_mor").count() === 250L)
    // the kills landed as DV entries on the original (still live) batches
    val b = live("dml_mor")
    assert(b.map(_.dv.size).sum === 50)
    drop("dml_mor")
  }

  test("filtered OVERWRITE (replaceWhere) rides the same distributed path") {
    catalogOn(); drop("dml_repl")
    spark.sql("CREATE TABLE graft.dml_repl (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_repl SELECT id, id FROM range(0, 200)")
    val before = ParquetRows.readCalls.get()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Seq((5L, 500L), (6L, 600L)).toDF("k", "v")
      .writeTo("graft.dml_repl").overwrite(col("k") >= 5 && col("k") < 10)
    assert(ParquetRows.readCalls.get() === before,
      "filtered overwrite row-kill must not read files driver-side")
    assert(spark.table("graft.dml_repl").count() === 197L) // 200 − 5 + 2
    assert(spark.sql("SELECT v FROM graft.dml_repl WHERE k = 5")
      .head().getLong(0) === 500L)
    drop("dml_repl")
  }

  test("DELETE evaluates era-resolved columns in the job (rename + default)") {
    catalogOn(); drop("dml_era")
    spark.sql("CREATE TABLE graft.dml_era (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_era SELECT id, id FROM range(0, 100)")
    spark.sql("ALTER TABLE graft.dml_era RENAME COLUMN v TO w")
    spark.sql("ALTER TABLE graft.dml_era ADD COLUMNS (tag BIGINT DEFAULT 7)")
    spark.sql("INSERT INTO graft.dml_era VALUES (1000, 1000, 9)")
    val before = ParquetRows.readCalls.get()
    // `w` resolves to stored `v` on the pre-rename batch; `tag` reads the
    // ADD COLUMN default there — a DELETE on the default value must match
    // pre-alter rows exactly as a read shows them
    spark.sql("DELETE FROM graft.dml_era WHERE w < 10 AND tag = 7")
    assert(ParquetRows.readCalls.get() === before)
    assert(spark.table("graft.dml_era").count() === 91L) // 100−10+1
    assert(spark.sql("SELECT count(*) FROM graft.dml_era WHERE tag = 9")
      .head().getLong(0) === 1L)
    drop("dml_era")
  }

  test("three-valued logic in the job: NOT over NULL keeps the row") {
    catalogOn(); drop("dml_3vl")
    spark.sql("CREATE TABLE graft.dml_3vl (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_3vl VALUES (1, 10), (2, NULL), (3, 30)")
    val before = ParquetRows.readCalls.get()
    spark.sql("DELETE FROM graft.dml_3vl WHERE v <> 10") // unknown on NULL
    assert(ParquetRows.readCalls.get() === before)
    val left = spark.sql("SELECT k FROM graft.dml_3vl ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(left === Seq(1L, 2L), "NULL v is unknown, not deleted")
    drop("dml_3vl")
  }

  test("unsupported filter shapes throw on the driver, before any job") {
    val schema = new StructType().add("k", LongType)
    // construction IS the validation — the loud failure must not move
    // into the job (where it would surface wrapped in a SparkException)
    intercept[UnsupportedOperationException] {
      new RowPredicate(Array(StringContains("k", "x")),
        Map("k" -> 0), Map.empty, schema)
    }
    // supported shapes construct fine
    new RowPredicate(Array(EqualTo("k", 1L)), Map("k" -> 0), Map.empty, schema)
  }

  test("match pass reads ONLY the predicate footprint (pruned schema)") {
    catalogOn(); drop("dml_prune")
    spark.sql("CREATE TABLE graft.dml_prune " +
      "(a BIGINT, b BIGINT, c STRING, d DOUBLE, e BIGINT, f STRING) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.dml_prune SELECT id, id * 2, " +
      "cast(id AS string), id * 0.5, id + 7, 'x' FROM range(0, 100)")
    DistributedDml.captureTasks = true
    try spark.sql("DELETE FROM graft.dml_prune WHERE e >= 57 AND e < 67")
    finally DistributedDml.captureTasks = false
    val tasks = DistributedDml.lastTasks.getAndSet(Nil)
    assert(tasks.nonEmpty)
    tasks.foreach { t =>
      assert(t.matchSchema.fieldNames.toSeq === Seq("e"),
        "match pass must project only the predicate footprint")
      assert(t.schema.fieldNames.length === 6,
        "CoW survivor pass still carries the full write schema")
    }
    assert(spark.table("graft.dml_prune").count() === 90L)
    drop("dml_prune")
  }

  test("task bytes are flat in dead-position count (kill state is broadcast)") {
    catalogOn(); drop("dml_bcast")
    spark.sql("CREATE TABLE graft.dml_bcast (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.dml_bcast SELECT id, id FROM range(0, 20000)")
    spark.sql("DELETE FROM graft.dml_bcast WHERE v < 10000") // 10k DV entries
    // second delete: the candidate batches now carry 10k dead positions
    // between them — those ride the broadcast, never the task closure
    DistributedDml.captureTasks = true
    try spark.sql("DELETE FROM graft.dml_bcast WHERE v >= 19000")
    finally DistributedDml.captureTasks = false
    val tasks = DistributedDml.lastTasks.getAndSet(Nil)
    assert(tasks.nonEmpty)
    val sizes = tasks.map { t =>
      val bo = new java.io.ByteArrayOutputStream()
      val oo = new java.io.ObjectOutputStream(bo)
      oo.writeObject(t); oo.close(); bo.size()
    }
    assert(sizes.forall(_ < 20 * 1024),
      s"task closure must not carry the kill state (task bytes: $sizes)")
    assert(spark.table("graft.dml_bcast").count() === 9000L)
    drop("dml_bcast")
  }

  test("sorted-layout claim survives a distributed CoW delete") {
    catalogOn(); drop("dml_sorted")
    spark.sql("CREATE TABLE graft.dml_sorted (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', 'graft.sort-order'='k')")
    spark.sql("INSERT INTO graft.dml_sorted " +
      "SELECT id, id FROM range(0, 100) ORDER BY id")
    spark.sql("CALL graft.rewrite_data_files('dml_sorted', 'k')")
    val st = MemTables.get("dml_sorted").get
    assert(st.sortedBy === Seq("k"))
    val before = ParquetRows.readCalls.get()
    spark.sql("DELETE FROM graft.dml_sorted WHERE k >= 40 AND k < 60")
    assert(ParquetRows.readCalls.get() === before)
    // order-preserving survivors: the executor-computed sortedness
    // verdict keeps the claim consistent with a post-delete read
    assert(spark.table("graft.dml_sorted").count() === 80L)
    live("dml_sorted").foreach { b =>
      b.store match {
        case f: MemTables.FileStore => assert(f.sorted,
          "survivor of a sorted batch must carry the sorted verdict")
        case _ => fail("expected file-backed survivor")
      }
    }
    drop("dml_sorted")
  }
}
