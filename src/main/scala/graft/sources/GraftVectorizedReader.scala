package graft.sources

import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Spark's VECTORIZED parquet decode, the one parquet reader of the
  * connector read paths: `graft-table` scans, every `graft-cdf` feed
  * leg (streamed or batch), and every engine read of a file that carries
  * a deletion vector — the engine's only merge-on-read.
  *
  * Each `CdfFilePartition` decodes through
  * [[VectorizedParquetRecordReader]], the exact reader Spark's own
  * parquet source uses: columnar page decode into `ColumnarBatch`es
  * (dictionary-aware, no per-row allocation), surfaced two ways:
  *
  *   - COLUMNAR: when a whole scan is DV-free, every partition reports
  *     `supportColumnarReads` and hands Spark raw `ColumnarBatch`es —
  *     the planner inserts its codegen'd `ColumnarToRow`, so a facet
  *     scan runs the same physical shape as `spark.read.parquet`;
  *   - ROW-VIEW: a DV'd scan and every feed leg serve rows off the
  *     batch cursor (`ColumnarBatchRow`), letting the position-keyed
  *     deletion-vector skip (or a DV delta's emit) ride the sequential
  *     row index, with a feed leg's identity and metadata columns (or a
  *     DML scan's file coordinates) joined on as a tail row. Spark
  *     requires a scan's partitions to agree on columnar-ness, which is
  *     why one DV'd file demotes the whole scan to row view rather than
  *     mixing.
  *
  * The reader is initialized through the standard `InputSplit` path
  * with the requested Catalyst schema in the Hadoop conf (the
  * `ParquetReadSupport` contract), so column pruning, schema
  * clipping, and missing-column-as-NULL evolution behave exactly as in
  * Spark's own scans. Rebase modes are pinned to CORRECTED — every
  * file this engine reads was written by Spark 3+/parquet-mr with
  * proleptic-Gregorian semantics. */
private[graft] object GraftVectorized {
  /** Conf key Spark's ParquetReadSupport reads the requested
    * (pruned/evolved) Catalyst schema from — a stable Spark wire key. */
  private val RequestedSchemaKey =
    "org.apache.spark.sql.parquet.row.requested_schema"

  /** Sized like Spark's default `spark.sql.parquet.columnarReaderBatchSize`. */
  val BatchCapacity = 4096

  /** Types the vectorized path is exercised against (the engine's
    * Spark-written table types; decimals of every precision decode
    * through the same INT32/INT64/FIXED_LEN_BYTE_ARRAY paths Spark's
    * own scans use — VERDICT r14 task 4 widened them in; arrays/
    * structs/maps of supported types through the nested
    * ParquetColumnVector assembly Spark's own scans use since 3.3 —
    * VERDICT r15 task 6 widened them in; TIMESTAMP_NTZ through the
    * INT64 micros updater, with `inferTimestampNTZ` pinned in
    * [[open]]). A projection with any other
    * type is refused when its scan or stream is built
    * ([[requireSupported]]), never planned into a read that fails at
    * run time. */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
        FloatType | StringType | BooleanType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case ArrayType(et, _) => supported(et)
    case st: StructType => st.fields.forall(f => supported(f.dataType))
    case MapType(k, v, _) => supported(k) && supported(v)
    case _ => false
  }

  def supportedSchema(s: StructType): Boolean =
    s.fields.forall(f => supported(f.dataType))

  /** Refuse a projection outside [[supported]], naming its columns. */
  def requireSupported(s: StructType, what: String): Unit = {
    val bad = s.fields.toIndexedSeq.filterNot(f => supported(f.dataType))
      .map(f => s"${f.name}: ${f.dataType.simpleString}")
    require(bad.isEmpty, s"$what: unsupported column type(s) " +
      s"${bad.mkString(", ")} — the vectorized parquet reader decodes " +
      "primitives, dates, timestamps, decimals, arrays, structs and maps")
  }

  /** Open `absPath` projecting exactly `schema` (order-defining;
    * columns absent from the file read NULL). Caller owns close().
    * `start`/`end` (X309) bound the read to the row groups starting in
    * that byte range (`end = -1` = whole file) — parquet's split
    * semantics, keyed on group-start boundaries. */
  def open(absPath: String, schema: StructType,
      start: Long = 0L, end: Long = -1L): VectorizedParquetRecordReader = {
    // a copy of the shared conf clones its parsed properties; a fresh
    // Configuration would re-parse the Hadoop XML defaults per open
    val conf = new org.apache.hadoop.conf.Configuration(
      GraftDataWriter.sharedConf)
    conf.set(RequestedSchemaKey, schema.json)
    // the schema-clipping ReadSupport Spark's own scans install
    // (ParquetInputFormat.setReadSupportClass)
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    // the session keys ParquetToSparkSchemaConverter demands (Spark's
    // scans copy them from the session conf; executor-side we pin the
    // engine's contract values: UTC micros timestamps, binary-is-bytes,
    // case-insensitive resolution, no field-id matching)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    val nioPath = java.nio.file.Paths.get(absPath)
    val p = new org.apache.hadoop.fs.Path(nioPath.toUri)
    // the OLD-API split class: Spark's reader base casts its
    // mapreduce.InputSplit parameter to mapred.FileSplit (which
    // subclasses the mapreduce one), so this is the only shape
    // initialize() accepts
    val hi = if (end >= 0L) end else java.nio.file.Files.size(nioPath)
    val split = new org.apache.hadoop.mapred.FileSplit(
      p, start, hi - start, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      "graft", 0, org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, attempt)
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, BatchCapacity)
    try r.initialize(split, ctx)
    catch { case t: Throwable =>
      // the initialize failure is what the caller needs to see
      try r.close() catch { case NonFatal(_) => () }
      throw t
    }
    r
  }
}
