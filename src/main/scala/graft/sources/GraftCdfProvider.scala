package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.TableCommit

/** STREAMING change feed over the [[TableCommit]] log (X267, VERDICT
  * r10 task 4): `spark.readStream.format("graft-cdf")` turns a
  * committed table's own commit log into a Structured Streaming
  * source — COMMIT VERSIONS ARE THE OFFSETS. Each micro-batch reads
  * exactly the files the versions in `(start, end]` appended, tags
  * rows with `_commit_version`, and checkpoints the watermark through
  * Spark's offset log, so a consumer restarted mid-feed resumes at
  * the version boundary it committed — exactly-once without a
  * hand-rolled ledger (the X251 batch consumer's `readConsumerLedger`
  * flow, promoted into the engine the way the reference's
  * timer-trigger incremental load consumes its upstream,
  * /root/reference/azure-functions/function_app.py:540-587).
  *
  * Two modes (X268, VERDICT r11 task 6):
  *   - default (append-only, the [[TableCommit.readChanges]]
  *     contract): a version that removed files or changed a deletion
  *     vector is not expressible as insert rows and fails LOUDLY at
  *     planning time;
  *   - `option("mode", "full")`: the [[TableCommit.readChangesFull]]
  *     semantics STREAMED — rewrites emit whole-file delete+insert
  *     rows, a DV delta emits exactly the newly-dead positions as
  *     delete rows, each tagged by a trailing `_change_type` column —
  *     so a CDC consumer can follow a table through X265 row deletes
  *     and OPTIMIZE, exactly when CDC matters most;
  *   - `option("withrowids", "true")` (X280, with mode=full, on a
  *     TRACKED table): every change row also carries its stable
  *     `_row_id` — the [[TableCommit.readChangesFullIds]] semantics
  *     STREAMED, so a replicating consumer (feature store, training-
  *     data index) can key state by row identity: an update arrives as
  *     a delete+insert pair sharing one id, a compaction re-emits
  *     unchanged ids. Schema gains `_row_id LONG` before the two
  *     trailing metadata columns.
  * Retention must cover the consumer's lag (poll at least once per
  * `retain` commits), exactly the batch feed's rule.
  *
  * Usage: the caller passes the FULL read schema — the table's data
  * columns PLUS a trailing `_commit_version LONG` (append mode) or
  * `_commit_version LONG, _change_type STRING` (full mode) — and
  * `option("root", tableRoot)`. `maxversionspertrigger` bounds a
  * batch's version span (the `maxFilesPerTrigger` analogue; default:
  * drain everything available). `TriggerAvailableNow` pins the
  * horizon at prepare time and drains to it.
  *
  * ONE PLANNER for batch and stream: [[GraftCdf.plan]] turns
  * [[TableCommit.changesBetween]]'s diff into per-file partitions, and
  * both this source's micro-batches and the batch feeds
  * ([[TableCommit.readChanges]], `readChangesFull`,
  * `readChangesFullIds` — a [[GraftCdfBatchTable]] relation) read
  * exactly those partitions through the same reader, so the two can
  * not drift and the append-only and row-lineage refusals exist once.
  *
  * Executor-side parquet reading is Spark's own vectorized decode
  * ([[GraftVectorized]]), the reader every `graft-table` scan uses, so
  * the feed reads every type the facet reads (primitives, dates,
  * timestamps, decimals, arrays, structs, maps). A data column of any
  * other type is refused when the stream starts or the batch feed is
  * planned, naming the column. Planning is manifest-only on the driver;
  * row bytes never visit it.
  *
  * Scale: a feed plans one InputPartition per changed FILE, so read
  * parallelism tracks the change size, and a 100k-file table's feed
  * still reads only what each version changed — change-proportional
  * cost, the entire point of consuming the log instead of diffing
  * snapshots. */
class GraftCdfProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-cdf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-cdf needs an explicit schema: the table's columns plus a " +
        "trailing _commit_version LONG")
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftCdfTable(schema, properties)
}

private[graft] object GraftCdf {
  val VersionCol = "_commit_version"
  val TypeCol = "_change_type"

  /** The feed's output schema over `data`: `_row_id` when `withIds`,
    * then `_commit_version` and, in full mode, `_change_type`. */
  def feedSchema(data: StructType, fullFeed: Boolean,
      withIds: Boolean): StructType = {
    val ids =
      if (withIds) Seq(StructField(TableCommit.RowIdCol, LongType)) else Nil
    val tpe =
      if (fullFeed) Seq(StructField(TypeCol, StringType, nullable = false))
      else Nil
    StructType(data.fields.toSeq ++ ids ++
      (StructField(VersionCol, LongType, nullable = false) +: tpe))
  }

  /** The id source of `e`'s rows when a read carries `_row_id` (X280),
    * the one rule of every id-carrying read (feeds, `readWithRowIds`,
    * id-preserving DML): `brid + position` for a file in its birth
    * layout (`Some(brid)`), the materialized `_row_id` column for a
    * rewritten one, marked by the `rid:` stats key (None). A file with
    * neither has no lineage and is refused. None when `withIds` is off. */
  def ridBase(root: String, e: TableCommit.Entry,
      withIds: Boolean): Option[Long] =
    if (!withIds) None
    else e.baseRowId.orElse {
      require(e.stats.contains(TableCommit.RidKey),
        s"file ${e.path} at $root has no row lineage — row ids can " +
          "not be read from a file without row lineage; a tracked " +
          "table must only be written through " +
          "commitAppend(trackRowIds = true) / preserveRowIds rewrites")
      None // materialized: the reader pulls the _row_id column
    }

  /** The ONE feed planner: the partitions of every version in `chs`.
    *
    * Append mode refuses, at planning time, a version that removed
    * files or changed a deletion vector — neither is expressible as
    * insert rows, and a rewrite version must kill the feed loudly, never
    * serve a half-truth. Full mode (X268) expresses both: inserts read
    * an added file's live rows; whole-file deletes read a removed file's
    * live rows AS OF THE PREDECESSOR (the removed entry carries its own
    * DV); a DV delta emits ONLY the newly-dead positions of the
    * persisting file; a restore's DV shrink (X283) emits the
    * resurrected rows as inserts — `dvShrunk` carries the SWAPPED
    * encoding pair, so emitOnly's decode(encA) − decode(encB) is
    * exactly the resurrected set.
    *
    * Positions never visit the driver: each partition carries the DV
    * ENCODINGS (inline text or @sidecar ref) and the reader task
    * decodes where it reads. */
  private[sources] def plan(root: String,
      chs: Seq[TableCommit.VersionChange], dataSchema: StructType,
      fullFeed: Boolean,
      withIds: Boolean): Seq[CdfFilePartition] = {
    def leg(e: TableCommit.Entry, v: Long, encA: Option[String],
        encB: Option[String], emitOnly: Boolean,
        changeType: Option[String]) =
      CdfFilePartition(TableCommit.resolvePath(root, e.path), v,
        dataSchema, root, encA, encB, emitOnly, changeType, withIds,
        ridBase(root, e, withIds))
    def dv(e: TableCommit.Entry) = e.stats.get(TableCommit.DvKey).map(_.min)
    if (!fullFeed) {
      val nonAppend = chs.filter(_.removedPaths.nonEmpty)
      require(nonAppend.isEmpty,
        s"non-append version(s) ${nonAppend.map(_.version).mkString(", ")} " +
          s"at $root — the append-only change feed cannot express " +
          "rewrites; read them through the full feed (readChangesFull, " +
          "graft-cdf mode=full)")
      val dvDelta = chs
        .filter(c => c.dvGrown.nonEmpty || c.dvShrunk.nonEmpty)
        .map(_.version)
      require(dvDelta.isEmpty,
        s"deletion-vector delta in version(s) ${dvDelta.mkString(", ")} " +
          s"at $root — row deletes/restores aren't expressible in the " +
          "append-only feed; read them through the full feed")
      chs.flatMap(ch => ch.added.map(e =>
        leg(e, ch.version, dv(e), None, emitOnly = false, None)))
    } else chs.flatMap { ch =>
      ch.added.map(e => leg(e, ch.version, dv(e), None,
        emitOnly = false, Some("insert"))) ++
        ch.removed.map(e => leg(e, ch.version, dv(e), None,
          emitOnly = false, Some("delete"))) ++
        ch.dvGrown.map(g => leg(g.entry, ch.version, Some(g.after.min),
          g.before.map(_.min), emitOnly = true, Some("delete"))) ++
        ch.dvShrunk.map(g => leg(g.entry, ch.version, Some(g.after.min),
          g.before.map(_.min), emitOnly = true, Some("insert")))
    }
  }

  /** The BATCH feed over `(fromExclusive, toInclusive]` of `data`'s
    * columns: planned now, so a refusal fires at the call, and read as
    * a relation over exactly the partitions the stream would plan. */
  def batch(spark: org.apache.spark.sql.SparkSession, root: String,
      data: StructType, fromExclusive: Long, toInclusive: Long,
      fullFeed: Boolean, withIds: Boolean): org.apache.spark.sql.DataFrame = {
    GraftVectorized.requireSupported(data, s"graft-cdf($root)")
    val parts = plan(root,
      TableCommit.changesBetween(root, fromExclusive, toInclusive),
      data, fullFeed, withIds)
    GraftBatchScan.frame(spark, new GraftCdfBatchTable(root,
      GraftBatchScan.nullable(data), parts, fullFeed, withIds))
  }

  /** Split the stream's read schema into the data columns, checking
    * that it ends with exactly the trailing columns [[feedSchema]] adds
    * for the mode. */
  def dataSchema(full: StructType, fullFeed: Boolean,
      withIds: Boolean): StructType = {
    require(fullFeed || !withIds,
      "graft-cdf withrowids=true requires mode=full — identity CDC " +
        "must express deletes and rewrites")
    val meta = feedSchema(new StructType(), fullFeed, withIds).fields
    def shape(fs: Seq[StructField]) = fs.map(f => (f.name, f.dataType))
    require(
      shape(full.fields.toSeq.takeRight(meta.length)) == shape(meta.toSeq),
      s"graft-cdf schema must end with " +
        s"`${meta.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")}`" +
        s"; got $full")
    StructType(full.fields.dropRight(meta.length))
  }
}

private class GraftCdfTable(schema0: StructType,
    properties: util.Map[String, String])
    extends Table with SupportsRead {
  private val root = Option(properties.get("root")).getOrElse(
    throw new IllegalArgumentException("graft-cdf requires option 'root'"))
  override def name(): String = s"graft-cdf($root)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema0
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new GraftCdfStream(root, schema0,
            Option(properties.get("maxversionspertrigger")).map(_.toLong),
            Option(properties.get("simulatecrashatversion")).map(_.toLong),
            Option(properties.get("mode")).exists(_ == "full"),
            Option(properties.get("withrowids")).exists(_ == "true"))
      }
    }
}

/** Offset = the highest fully-consumed commit version. */
private case class CdfOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private object CdfOffset {
  private val Re = """\{"version":(\d+)\}""".r
  def parse(json: String): CdfOffset = json.trim match {
    case Re(v) => CdfOffset(v.toLong)
    case other => throw new IllegalArgumentException(
      s"unparseable graft-cdf offset: $other")
  }
}

private class GraftCdfStream(root: String, fullSchema: StructType,
    maxVersionsPerTrigger: Option[Long], simulateCrashAtVersion: Option[Long],
    fullFeed: Boolean, withIds: Boolean)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val dataSchema = GraftCdf.dataSchema(fullSchema, fullFeed, withIds)
  GraftVectorized.requireSupported(dataSchema, s"graft-cdf($root)")
  /** AvailableNow horizon, pinned at prepare time so the drain is a
    * fixed target even while writers keep committing. */
  @volatile private var horizon: Option[Long] = None

  override def initialOffset(): Offset = CdfOffset(0L)
  override def prepareForTriggerAvailableNow(): Unit =
    horizon = Some(TableCommit.currentVersion(root).getOrElse(0L))
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control path")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdfOffset]
    val cur = TableCommit.currentVersion(root).getOrElse(0L)
    // test-only crash seam (the X206 pattern): a "process death" at
    // this watermark — the checkpoint holds the committed prefix and
    // the restarted run must resume from it, not from zero
    simulateCrashAtVersion.foreach { at =>
      if (s.version >= at && s.version < horizon.getOrElse(cur))
        throw new IllegalStateException(
          s"simulated crash at version watermark ${s.version}")
    }
    val target = horizon.map(math.min(_, cur)).getOrElse(cur)
    val until = maxVersionsPerTrigger
      .map(span => math.min(s.version + span, target)).getOrElse(target)
    CdfOffset(math.max(until, s.version))
  }
  override def deserializeOffset(json: String): Offset =
    CdfOffset.parse(json)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[CdfOffset].version
    val until = end.asInstanceOf[CdfOffset].version
    if (from >= until) Array.empty
    else GraftCdf.plan(root, TableCommit.changesBetween(root, from, until),
      dataSchema, fullFeed, withIds).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftCdfReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One file (or row-group range) of one read. The marked positions
  * arrive as DV ENCODINGS (decoded in the reader task, never on the
  * driver), interpreted by `emitOnly`: false → SKIP `encA`'s positions
  * (the file's deletion vector — its dead rows were never content);
  * true → emit ONLY `decode(encA) − decode(encB)` (a DV delta's
  * newly-dead rows, or a restore's resurrected ones).
  *
  * Tail columns after the data columns, in order:
  *   - `_row_id` when `withIds` (X280): `ridBase + position` for a born
  *     file, the file's materialized `_row_id` column otherwise;
  *   - `_g_path`, `_g_pos` when `positions`: the file's resolved path
  *     and each row's position in it — the coordinates every engine DML
  *     scan folds into new deletion vectors, keyed by that path;
  *   - `_commit_version` and, when `changeType` is set, `_change_type`,
  *     unless `bare` (a live-rows scan, not a feed leg).
  *
  * `columnar = true` (X295, set at planning time only when EVERY
  * partition of the scan is a DV-free bare read without a tail): the
  * reader factory serves raw `ColumnarBatch`es and Spark plans its
  * codegen'd ColumnarToRow on top. Spark requires all of a scan's
  * partitions to agree on columnar-ness, so the flag is all-or-nothing
  * per scan.
  *
  * `splitStart/splitEnd` (X309): a ROW-GROUP range — the partition
  * decodes only the row groups whose bytes start in
  * `[splitStart, splitEnd)`, and `posBase`/`posEnd` carry the range's
  * absolute row-position window so the deletion-vector skip keys the
  * FILE's position space, not the split's. `splitEnd = -1` = whole
  * file. */
private case class CdfFilePartition(absPath: String, version: Long,
    dataSchema: StructType, root: String,
    encA: Option[String], encB: Option[String],
    emitOnly: Boolean, changeType: Option[String],
    withIds: Boolean, ridBase: Option[Long],
    bare: Boolean = false, columnar: Boolean = false,
    splitStart: Long = 0L, splitEnd: Long = -1L,
    posBase: Long = 0L, posEnd: Long = -1L,
    positions: Boolean = false)
    extends InputPartition

/** The batch change feed: the [[GraftCdf.plan]] partitions of one
  * version range, read through the stream's reader factory. Column
  * pruning narrows each partition's data columns; the feed's trailing
  * columns are always emitted. */
private class GraftCdfBatchTable(root: String, data: StructType,
    parts: Seq[CdfFilePartition], fullFeed: Boolean, withIds: Boolean)
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdf($root)"
  override def schema(): StructType =
    GraftCdf.feedSchema(data, fullFeed, withIds)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned = data
      override def pruneColumns(required: StructType): Unit = {
        val keep =
          data.fields.filter(f => required.fieldNames.contains(f.name))
        // COUNT(*) still needs one column to drive the row cursor
        pruned = StructType(if (keep.nonEmpty) keep else data.fields.take(1))
      }
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType =
          GraftCdf.feedSchema(pruned, fullFeed, withIds)
        override def toBatch: Batch = this
        override def description(): String =
          s"graft-cdf($root) legs=${parts.size}"
        override def planInputPartitions(): Array[InputPartition] =
          parts.map(p => p.copy(dataSchema = pruned): InputPartition).toArray
        override def createReaderFactory(): PartitionReaderFactory =
          GraftCdfReaderFactory
      }
    }
}

private object GraftCdfReaderFactory extends PartitionReaderFactory {
  /** X314: a clustered scan wraps its splits with their partition key;
    * the readers only ever need the carried file split. */
  private def unwrap(p: InputPartition): CdfFilePartition = p match {
    case k: GraftKeyedPartition => k.inner
    case c: CdfFilePartition   => c
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    unwrap(p).columnar

  /** X295 columnar leg: batches pass through untouched (a columnar
    * partition carries no DV and no metadata tail by construction). */
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = unwrap(p)
    require(part.columnar && part.bare && part.encA.isEmpty,
      s"columnar read planned for a non-columnar partition ${part.absPath}")
    val rdr = GraftVectorized.open(part.absPath, part.dataSchema,
      part.splitStart, part.splitEnd)
    // no partition columns on this scan; batch-return mode needs the
    // explicit initBatch Spark's own parquet source performs
    rdr.initBatch(new StructType(), InternalRow.empty)
    rdr.enableReturningBatches()
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = rdr.nextBatch()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
        rdr.resultBatch()
      override def close(): Unit = rdr.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftVectorizedRowReader(unwrap(p))
}

/** Every non-columnar partition — a DV'd scan and every feed leg —
  * decodes vectorized and is served row by row off the batch cursor.
  * Row position within the file is the cursor index (batches arrive in
  * file order; a row-group split starts at its absolute `posBase`), and
  * the marked positions key on it: `emitOnly = false` skips them (a
  * deletion vector), `emitOnly = true` emits only them (a DV delta).
  * The marked set is an ascending array walked by a cursor, since rows
  * arrive in ascending position order. A row is the data row joined
  * with one reused tail row (see [[CdfFilePartition]]). */
private class GraftVectorizedRowReader(p: CdfFilePartition)
    extends PartitionReader[InternalRow] {
  // DV decode FIRST: if the sidecar read throws, no parquet reader has
  // been opened yet
  private val marked = GraftVectorizedRowReader.marked(p)
  private var mi = 0 // first marked position not yet passed
  private val readRid = p.withIds && p.ridBase.isEmpty
  private val rdr = GraftVectorized.open(p.absPath,
    if (readRid) p.dataSchema.add(TableCommit.RowIdCol, LongType)
    else p.dataSchema,
    p.splitStart, p.splitEnd)
  private val bornRid = p.withIds && p.ridBase.isDefined
  private val ridBase = p.ridBase.getOrElse(0L)
  private val tail = {
    val id = if (bornRid) Seq(0L) else Nil // set per row in get()
    val at =
      if (p.positions) Seq(UTF8String.fromString(p.absPath), 0L) else Nil
    val feed = if (p.bare) Nil
      else p.version +: p.changeType.map(UTF8String.fromString).toSeq
    new GenericInternalRow((id ++ at ++ feed).toArray[Any])
  }
  private val posSlot = if (bornRid) 2 else 1 // after _g_path
  private val joined = new JoinedRow
  private var pos = p.posBase - 1L
  override def next(): Boolean = {
    while (rdr.nextKeyValue()) {
      pos += 1
      while (mi < marked.length && marked(mi) < pos) mi += 1
      if ((mi < marked.length && marked(mi) == pos) == p.emitOnly)
        return true
    }
    false
  }
  override def get(): InternalRow = {
    val row = rdr.getCurrentValue.asInstanceOf[InternalRow]
    if (readRid) require(!row.isNullAt(p.dataSchema.length),
      s"materialized ${TableCommit.RowIdCol} missing at position $pos " +
        s"of ${p.absPath}")
    if (bornRid) tail.setLong(0, ridBase + pos)
    if (p.positions) tail.setLong(posSlot, pos)
    if (tail.numFields == 0) row else joined(row, tail)
  }
  override def close(): Unit = rdr.close()
}

private object GraftVectorizedRowReader {
  /** The partition's marked positions, ascending, decoded EXECUTOR-side
    * from the DV encodings (inline text or a sidecar on the shared FS):
    * `decode(encA) − decode(encB)` — a deletion vector to skip
    * (`emitOnly = false`) or a DV delta to emit (`emitOnly = true`). */
  def marked(p: CdfFilePartition): Array[Long] = {
    def sorted(enc: String): Array[Long] = {
      val a = TableCommit.dvDecodeEnc(p.root, enc).toArray
      java.util.Arrays.sort(a)
      a
    }
    val a = p.encA.map(sorted).getOrElse(Array.emptyLongArray)
    val fresh = p.encB.map(sorted) match {
      case Some(b) => // sorted-merge difference a − b
        val out = Array.newBuilder[Long]
        var j = 0
        a.foreach { v =>
          while (j < b.length && b(j) < v) j += 1
          if (j >= b.length || b(j) != v) out += v
        }
        out.result()
      case None => a
    }
    // X309: a row-group split only ever visits its own position
    // window — keep the marked set split-sized, not file-sized
    if (p.posEnd < 0L) fresh
    else fresh.filter(v => v >= p.posBase && v < p.posEnd)
  }
}
