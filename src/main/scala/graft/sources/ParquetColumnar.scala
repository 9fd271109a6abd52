package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED (columnar) reads for the file-backed storage plane — the
  * Iceberg/Delta read shape and the single largest constant factor on a
  * scan-heavy 100 TB workload: instead of materializing one
  * `InternalRow` per row through the parquet record materializer
  * ([[ParquetRows.iterator]]), scans decode whole column chunks into
  * Spark's own `ColumnarBatch` vectors via the engine's production
  * `VectorizedParquetRecordReader`, and the plan consumes them through
  * codegen's columnar-to-row loop (or directly, for columnar-capable
  * operators). Delete-vector kills, pushed head cuts, and the
  * `_batch_pos` metadata column ride the parquet ROW INDEX (Spark's
  * `_tmp_metadata_row_index` mechanism), so positions stay exact even
  * when parquet-level row-group/page filtering skips rows.
  *
  * The row-based [[ParquetRows]] path remains for evolved batches the
  * columnar projection cannot express (type widening) and as the
  * uniform fallback — Spark requires every partition of one scan to
  * agree on columnar vs rows.
  */
object ParquetColumnar {

  /** Spark's temporary row-index metadata column: request it in the
    * read schema and the vectorized reader fills each row's ordinal
    * WITHIN THE FILE (filter/row-group skips accounted) — exactly the
    * engine's `_batch_pos` position space for single-file batches.
    */
  val RowIndexColumn: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  // NULLABLE by contract: the clipped parquet schema must mark the (file-
  // absent) column optional, or the reader rejects it as required-missing
  def rowIndexField: StructField = StructField(RowIndexColumn, LongType, nullable = true)

  /** Translate pushed filters against the FILE's own footer schema
    * (ground truth — no reconstructed-schema drift) and hand them to
    * parquet-hadoop for ROW-GROUP + column-index (page) pruning;
    * record-level filtering stays OFF (positions keep riding the row
    * index, and Spark / [[RowPredicate]] re-evaluates the real predicate
    * above). ONE definition for the columnar scan and the DML match pass
    * (`ParquetRows.PositionedRowIterator`).
    */
  private[sources] def pushFooterFilter(
      conf: Configuration, p: Path,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Unit =
    if (filters.nonEmpty) {
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try org.apache.spark.sql.graftbridge.Bridge.parquetFilter(
        fr.getFooter.getFileMetaData.getSchema, filters).foreach { pred =>
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, pred)
        conf.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat
          .RECORD_FILTERING_ENABLED, false)
      } finally fr.close()
    }

  // template conf: the keys SpecificParquetRecordReaderBase +
  // ParquetReadSupport read, at the engine's fixed semantics (identical
  // to ParquetRows.buildReadConf) — built once, copied per reader
  private lazy val template: Configuration = {
    val c = graft.core.LocalFs.useRaw(new Configuration())
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set("spark.sql.caseSensitive", "false")
    c.set("spark.sql.parquet.binaryAsString", "false")
    c.set("spark.sql.parquet.int96AsTimestamp", "true")
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    c.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    c
  }

  /** One file's columnar read: yields the reader-owned `ColumnarBatch`
    * per `nextBatch()` (REUSED between calls — consume before advancing,
    * the standard vectorized-reader contract). `filter` is pushed to
    * parquet-hadoop for ROW-GROUP + page-level pruning (positions stay
    * exact via the row index); it is advisory — Spark re-evaluates the
    * real predicate above the scan, so a conservative translation can
    * only skip rows the residual filter would drop anyway.
    */
  final class BatchReader(
      path: String, requestedSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      capacity: Int = 4096) extends AutoCloseable {
    private val reader = {
      val conf = new Configuration(template)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requestedSchema.json)
      val p = new Path(path)
      pushFooterFilter(conf, p, filters)
      val len = MetaIO.fs(p).getFileStatus(p).getLen
      val split = new org.apache.hadoop.mapred.FileSplit(
        p, 0, len, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID(
          new org.apache.hadoop.mapreduce.TaskID(
            new org.apache.hadoop.mapreduce.JobID("graft", 0),
            org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0))
      // files are engine-written: TIMESTAMP_MICROS, CORRECTED rebase —
      // the constructor args mirror the write-side contract exactly
      val r = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC",
        /* useOffHeap = */ false, capacity)
      var ok = false
      try {
        r.initialize(split, ctx)
        r.initBatch(new StructType(), InternalRow.empty)
        r.enableReturningBatches()
        ok = true
      } finally if (!ok) r.close()
      r
    }
    private var closed = false

    /** Advance to the next non-empty batch; null at EOF. */
    def nextBatch(): ColumnarBatch =
      if (closed || !reader.nextKeyValue()) null
      else reader.getCurrentValue.asInstanceOf[ColumnarBatch]

    override def close(): Unit = if (!closed) { closed = true; reader.close() }
  }

  // ------------------------------------------------------ wrapper vectors

  /** Delegating vector over a SURVIVOR INDEX MAP: row `i` of the output
    * batch reads row `map(i)` of the underlying vector — how DV kills
    * and head cuts filter a columnar batch without copying column data
    * (the Iceberg vectorized-delete shape).
    */
  final class SelectedVector(base: ColumnVector, map: Array[Int])
      extends ColumnVector(base.dataType()) {
    override def close(): Unit = () // base owned by the file reader
    override def hasNull: Boolean = base.hasNull
    override def numNulls(): Int = {
      var n = 0; var i = 0
      while (i < map.length) { if (base.isNullAt(map(i))) n += 1; i += 1 }
      n
    }
    override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
    override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
    override def getByte(i: Int): Byte = base.getByte(map(i))
    override def getShort(i: Int): Short = base.getShort(map(i))
    override def getInt(i: Int): Int = base.getInt(map(i))
    override def getLong(i: Int): Long = base.getLong(map(i))
    override def getFloat(i: Int): Float = base.getFloat(map(i))
    override def getDouble(i: Int): Double = base.getDouble(map(i))
    override def getArray(i: Int): ColumnarArray = base.getArray(map(i))
    override def getMap(i: Int): ColumnarMap = base.getMap(map(i))
    override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
      base.getDecimal(map(i), precision, scale)
    override def getUTF8String(i: Int): UTF8String = base.getUTF8String(map(i))
    override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
    // STRUCT access goes ColumnarRow(parentVector, parentRowId) →
    // getChild(ordinal).getX(parentRowId): children index in the
    // PARENT's row space, so they must remap through the same survivor
    // map (arrays/maps are unaffected — their ColumnarArray/ColumnarMap
    // carry absolute child offsets resolved by the base getters above)
    override def getChild(ordinal: Int): ColumnVector =
      new SelectedVector(base.getChild(ordinal), map)
  }

  /** `_batch_pos` as a vector: the surviving rows' file positions
    * (already filtered through the survivor map), INT-typed per the
    * metadata-column contract.
    */
  final class PositionsVector(positions: Array[Int])
      extends ColumnVector(IntegerType) {
    override def close(): Unit = ()
    override def hasNull: Boolean = false
    override def numNulls(): Int = 0
    override def isNullAt(i: Int): Boolean = false
    override def getBoolean(i: Int): Boolean = throw new UnsupportedOperationException
    override def getByte(i: Int): Byte = throw new UnsupportedOperationException
    override def getShort(i: Int): Short = throw new UnsupportedOperationException
    override def getInt(i: Int): Int = positions(i)
    override def getLong(i: Int): Long = positions(i).toLong
    override def getFloat(i: Int): Float = throw new UnsupportedOperationException
    override def getDouble(i: Int): Double = throw new UnsupportedOperationException
    override def getArray(i: Int): ColumnarArray = throw new UnsupportedOperationException
    override def getMap(i: Int): ColumnarMap = throw new UnsupportedOperationException
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      throw new UnsupportedOperationException
    override def getUTF8String(i: Int): UTF8String = throw new UnsupportedOperationException
    override def getBinary(i: Int): Array[Byte] = throw new UnsupportedOperationException
    override def getChild(ordinal: Int): ColumnVector = throw new UnsupportedOperationException
  }

  /** The atomic types the columnar path serves. */
  def atomicSupported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Types the VECTORIZED READER decodes: the atomics plus any nesting
    * of arrays/structs/maps over them (the embedding-vector and
    * struct-of-modalities shapes an LLM-pipeline table stores) —
    * interval/variant/UDT keep the row path.
    */
  def vectorizable(dt: DataType): Boolean = dt match {
    case ArrayType(e, _) => vectorizable(e)
    case s: StructType => s.fields.forall(f => vectorizable(f.dataType))
    case MapType(k, v, _) => vectorizable(k) && vectorizable(v)
    case other => atomicSupported(other)
  }

  /** Can `value` (an internal-representation constant: ADD COLUMN
    * default, or null) be served as a [[org.apache.spark.sql.execution
    * .vectorized.ConstantColumnVector]] of `dt`?
    */
  def constantSupported(value: Any, dt: DataType): Boolean =
    atomicSupported(dt) && (value match {
      case null => true
      case _: java.lang.Boolean => dt == BooleanType
      case _: java.lang.Byte => dt == ByteType
      case _: java.lang.Short => dt == ShortType
      case _: java.lang.Integer => dt == IntegerType || dt == DateType
      case _: java.lang.Long =>
        dt == LongType || dt == TimestampType || dt == TimestampNTZType
      case _: java.lang.Float => dt == FloatType
      case _: java.lang.Double => dt == DoubleType
      case _: UTF8String => dt == StringType
      case _: Array[Byte] => dt == BinaryType
      case _: Decimal => dt.isInstanceOf[DecimalType]
      case _ => false
    })

  /** Build the constant vector for an unresolved column (null, or its
    * batch-applicable ADD COLUMN default) — [[constantSupported]] must
    * hold.
    */
  def constantVector(value: Any, dt: DataType, capacity: Int): ColumnVector = {
    val v = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(capacity, dt)
    value match {
      case null => v.setNull()
      case b: java.lang.Boolean => v.setBoolean(b)
      case b: java.lang.Byte => v.setByte(b)
      case s: java.lang.Short => v.setShort(s)
      case i: java.lang.Integer => v.setInt(i)
      case l: java.lang.Long => v.setLong(l)
      case f: java.lang.Float => v.setFloat(f)
      case d: java.lang.Double => v.setDouble(d)
      case u: UTF8String => v.setUtf8String(u)
      case b: Array[Byte] => v.setBinary(b)
      case d: Decimal =>
        val dec = dt.asInstanceOf[DecimalType]
        v.setDecimal(d, dec.precision)
    }
    v
  }
}
