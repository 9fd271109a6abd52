package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet ROW-GROUP pruning inside files: pushed predicates hand down
  * to parquet-hadoop, so a multi-row-group file pays only the groups
  * that can match — on the columnar scan reader, the position-aware DML
  * match iterator, and the distributed DELETE evaluation — while every
  * surviving row keeps its ABSOLUTE file position via the row index.
  */
class RowGroupPruneSpec extends SparkSpec {

  private val N = 20000
  private val schema = new StructType().add("k", LongType).add("v", LongType)

  // one multi-row-group file: k = position (sorted, so per-group stats
  // are disjoint ranges and a selective range predicate prunes groups)
  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rgp").toFile
    val p = new java.io.File(dir, "rg.parquet").getAbsolutePath
    val rows = (0 until N).iterator.map(i =>
      new GenericInternalRow(Array[Any](i.toLong, (i.toLong * 7919) % 1000003L)))
    // ~8 KB row groups → many groups for 20k rows
    val n = ParquetRows.write(p, schema, rows, rowGroupBytes = 8 * 1024L)
    assert(n == N.toLong)
    p
  }

  private def decodedRows(filters: Seq[org.apache.spark.sql.sources.Filter],
      withPos: Boolean): Seq[(Long, Long)] = {
    val requested =
      if (withPos) StructType(schema.fields :+ ParquetColumnar.rowIndexField)
      else schema
    val r = new ParquetColumnar.BatchReader(path, requested, filters)
    val out = Seq.newBuilder[(Long, Long)]
    try {
      var b = r.nextBatch()
      while (b != null) {
        var i = 0
        while (i < b.numRows()) {
          out += ((b.column(0).getLong(i),
            if (withPos) b.column(2).getLong(i) else -1L))
          i += 1
        }
        b = r.nextBatch()
      }
    } finally r.close()
    out.result()
  }

  test("columnar reader skips row groups under a selective pushed filter") {
    assert(decodedRows(Nil, withPos = false).size === N) // whole file baseline
    val got = decodedRows(Seq(GreaterThanOrEqual("k", (N - 50).toLong)),
      withPos = true)
    assert(got.size < N / 2,
      s"row-group pruning must skip non-matching groups (decoded ${got.size}/$N)")
    assert(got.size >= 50, "every matching row must survive the pruning")
    // the row index is the ABSOLUTE file position — equal to k here
    got.foreach { case (k, pos) => assert(pos === k) }
  }

  test("positioned row iterator prunes and keeps absolute positions") {
    val it = ParquetRows.positioned(path, schema,
      Seq(LessThan("k", 40L)))
    val got = Seq.newBuilder[(Long, Long)]
    try while (it.hasNext) { val r = it.next(); got += ((it.pos, r.getLong(0))) }
    finally it.close()
    val rows = got.result()
    assert(rows.size < N / 2,
      s"row-group pruning must skip non-matching groups (read ${rows.size}/$N)")
    assert(rows.take(40).map(_._1) === (0L until 40L),
      "positions must be absolute file row indexes")
    rows.foreach { case (pos, k) => assert(pos === k) }
  }

  test("the ROW scan path prunes row groups when a filter is pushable") {
    // evolved-schema scans decline the columnar projection but still
    // prune: drive the row reader directly with a pushed filter and a
    // _batch_pos projection — positions must be absolute under skips
    val target = new StructType().add("k", LongType).add("v", LongType)
      .add(MemTables.BatchPos, org.apache.spark.sql.types.IntegerType)
    val part = MemPartition(schema, 1L, Map("k" -> "k", "v" -> "v"),
      path, Set.empty, 7L, None,
      pushFilters = Array(GreaterThanOrEqual("k", (N - 50).toLong)))
    val reader = MemScan.readerFactoryFor(target).createReader(part)
    var n = 0
    try while (reader.next()) {
      val r = reader.get()
      assert(r.getInt(2).toLong === r.getLong(0),
        "_batch_pos must be the absolute file position despite skips")
      n += 1
    } finally reader.close()
    assert(n < N / 2, s"row path must prune non-matching groups (read $n/$N)")
    assert(n >= 50, "every matching row must survive")
  }

  test("distributed DELETE match pass prunes row groups, positions exact") {
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThanOrEqual("k", (N - 30).toLong))
    val pred = new RowPredicate(filters, Map("k" -> 0), Map.empty, schema)
    val task = DistributedDml.EvalTask(1L, path, schema,
      matchSchema = schema, pred = pred, survivorDir = None,
      declaredSort = Nil, bloomCols = Set.empty, pushFilters = filters)
    val r = DistributedDml.evalBatch(task, DistributedDml.EmptyKills)
    assert(r.matchedPositions.toSeq === ((N - 30) until N),
      "matched positions must be absolute despite skipped row groups")
    // and a filter the translator cannot push (unknown column) degrades
    // to a full scan with identical results
    val task2 = task.copy(pushFilters = Array.empty)
    val r2 = DistributedDml.evalBatch(task2, DistributedDml.EmptyKills)
    assert(r2.matchedPositions.toSeq === r.matchedPositions.toSeq)
  }
}
