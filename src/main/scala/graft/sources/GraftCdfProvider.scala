package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
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
  *     contract): a version that removed files or grew a deletion
  *     vector is not expressible as insert rows and fails the batch
  *     LOUDLY at planning time;
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
  * Executor-side parquet reading is Spark's own vectorized decode
  * ([[GraftVectorized]]), the reader every `graft-table` scan uses, so
  * the feed reads every type the batch feed and the facet read
  * (primitives, dates, timestamps, decimals, arrays, structs, maps). A
  * data column of any other type is refused when the stream starts,
  * naming the column. Planning is manifest-only on the driver; row
  * bytes never visit it.
  *
  * Scale: a batch plans one InputPartition per appended FILE, so read
  * parallelism tracks the change size, and a 100k-file table's feed
  * still reads only what each version added — change-proportional
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

private object GraftCdf {
  val VersionCol = "_commit_version"
  val TypeCol = "_change_type"

  /** Split the read schema into the data columns, checking the
    * trailing metadata columns for the mode: append mode ends with
    * `_commit_version LONG`; full mode with `_commit_version LONG,
    * _change_type STRING` (the batch [[TableCommit.readChangesFull]]
    * schema, streamed); full mode with row ids (X280) with `_row_id
    * LONG, _commit_version LONG, _change_type STRING` (the batch
    * [[TableCommit.readChangesFullIds]] schema, streamed). */
  def dataSchema(full: StructType, fullFeed: Boolean,
      withIds: Boolean): StructType =
    if (withIds) {
      require(fullFeed,
        "graft-cdf withrowids=true requires mode=full — identity CDC " +
          "must express deletes and rewrites")
      require(full.fields.length >= 3 &&
        full.fields(full.fields.length - 3).name ==
          TableCommit.RowIdCol &&
        full.fields(full.fields.length - 3).dataType == LongType &&
        full.fields(full.fields.length - 2).name == VersionCol &&
        full.fields(full.fields.length - 2).dataType == LongType &&
        full.fields.last.name == TypeCol &&
        full.fields.last.dataType == StringType,
        s"graft-cdf withrowids schema must end with " +
          s"`${TableCommit.RowIdCol} LONG, $VersionCol LONG, " +
          s"$TypeCol STRING`; got $full")
      StructType(full.fields.dropRight(3))
    } else if (fullFeed) {
      require(full.fields.length >= 2 &&
        full.fields(full.fields.length - 2).name == VersionCol &&
        full.fields(full.fields.length - 2).dataType == LongType &&
        full.fields.last.name == TypeCol &&
        full.fields.last.dataType == StringType,
        s"graft-cdf mode=full schema must end with `$VersionCol LONG, " +
          s"$TypeCol STRING`; got $full")
      StructType(full.fields.dropRight(2))
    } else {
      require(full.fields.nonEmpty &&
        full.fields.last.name == VersionCol &&
        full.fields.last.dataType == LongType,
        s"graft-cdf schema must end with `$VersionCol LONG`; got $full")
      StructType(full.fields.init)
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
    if (from >= until) return Array.empty
    // ONE incremental diff pass (ADVICE r11): changesBetween rolls the
    // file list forward version by version — a delta manifest is its
    // own diff — and already carries removals and DV growth, so both
    // the append-only contract checks and the full feed's partitions
    // derive from this single walk with no per-version re-resolution.
    val chs = TableCommit.changesBetween(root, from, until)
    def abs(e: TableCommit.Entry): String =
      if (e.path.startsWith("/")) e.path else s"$root/${e.path}"
    // X280: identity CDC needs each file's id source — `brid + position`
    // for files in their birth layout, the materialized `_row_id`
    // column for rewritten ones (marked by the `rid:` stats key). A
    // file with neither has no lineage: fail at PLANNING time, the
    // same loud contract as the batch readChangesFullIds.
    def ridBase(e: TableCommit.Entry): Option[Long] =
      if (!withIds) None
      else e.baseRowId.orElse {
        require(e.stats.contains(TableCommit.RidKey),
          s"file ${e.path} at $root has no row lineage — a tracked " +
            "table must only be written through " +
            "commitAppend(trackRowIds = true) / preserveRowIds rewrites")
        None // materialized: the reader pulls the _row_id column
      }
    if (!fullFeed) {
      // append-only contract, enforced at PLANNING time so a rewrite
      // version kills the stream loudly, never feeds a half-truth
      val nonAppend = chs.filter(_.removedPaths.nonEmpty)
      require(nonAppend.isEmpty,
        s"non-append version(s) ${nonAppend.map(_.version).mkString(", ")} " +
          s"in stream range ($from, $until] at $root — graft-cdf streams " +
          "the append-only feed; rewrites need mode=full")
      val dvDelta = chs
        .filter(c => c.dvGrown.nonEmpty || c.dvShrunk.nonEmpty)
        .map(_.version)
      require(dvDelta.isEmpty,
        s"deletion-vector delta in version(s) ${dvDelta.mkString(", ")} " +
          s"at $root — row deletes/restores aren't expressible in the " +
          "append-only stream; use mode=full")
      chs.flatMap { ch =>
        ch.added.map { e =>
          CdfFilePartition(abs(e), ch.version, dataSchema, root,
            encA = e.stats.get(TableCommit.DvKey).map(_.min),
            encB = None, emitOnly = false, changeType = None,
            withIds = false, ridBase = None): InputPartition
        }
      }.toArray
    } else {
      // FULL feed (X268): rewrites and row deletes are expressible —
      // exactly the batch readChangesFull semantics, streamed.
      // Inserts read an added file's live rows; whole-file deletes
      // read a removed file's live rows AS OF THE PREDECESSOR (the
      // removed entry carries its own DV); a DV delta emits ONLY the
      // newly-dead positions of the persisting file.
      // positions never visit the driver: each partition carries the
      // DV ENCODINGS (inline text or @sidecar ref) and the reader task
      // decodes where it reads
      chs.flatMap { ch =>
        val ins = ch.added.map(e =>
          CdfFilePartition(abs(e), ch.version, dataSchema, root,
            encA = e.stats.get(TableCommit.DvKey).map(_.min),
            encB = None, emitOnly = false, changeType = Some("insert"),
            withIds = withIds, ridBase = ridBase(e)): InputPartition)
        val del = ch.removed.map(e =>
          CdfFilePartition(abs(e), ch.version, dataSchema, root,
            encA = e.stats.get(TableCommit.DvKey).map(_.min),
            encB = None, emitOnly = false, changeType = Some("delete"),
            withIds = withIds, ridBase = ridBase(e)): InputPartition)
        val dvd = ch.dvGrown.map { g =>
          CdfFilePartition(abs(g.entry), ch.version, dataSchema, root,
            encA = Some(g.after.min), encB = g.before.map(_.min),
            emitOnly = true, changeType = Some("delete"),
            withIds = withIds,
            ridBase = ridBase(g.entry)): InputPartition
        }
        // X283: a restore's DV shrink streams the resurrected rows as
        // inserts — dvShrunk already carries the SWAPPED encoding
        // pair, so emitOnly's decode(encA) − decode(encB) is exactly
        // the resurrected position set
        val dvi = ch.dvShrunk.map { g =>
          CdfFilePartition(abs(g.entry), ch.version, dataSchema, root,
            encA = Some(g.after.min), encB = g.before.map(_.min),
            emitOnly = true, changeType = Some("insert"),
            withIds = withIds,
            ridBase = ridBase(g.entry)): InputPartition
        }
        ins ++ del ++ dvd ++ dvi
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftCdfReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One file of one version. The marked positions arrive as DV
  * ENCODINGS (decoded in the reader task, never on the driver),
  * interpreted by `emitOnly`: false → SKIP `encA`'s positions (the
  * file's deletion vector — its dead rows were never content and must
  * not stream); true → emit ONLY `decode(encA) − decode(encB)` (a DV
  * delta's newly-dead rows, streamed as delete records in the full
  * feed). `changeType` present = full-feed mode, emitted as the
  * trailing `_change_type` column. `withIds` (X280) adds a `_row_id`
  * column before it: `ridBase + position` when the base is present (a
  * born file), the file's materialized `_row_id` column otherwise. */
/** `bare = true` (X289 batch read facet): emit ONLY the data columns
  * (+ `_row_id` when `withIds`) — no trailing `_commit_version` /
  * `_change_type`; the partition is a LIVE-rows file scan, not a feed
  * leg. */
/** `columnar = true` (X295, set at planning time only when EVERY
  * partition of the scan is a DV-free bare read): the reader factory
  * serves raw `ColumnarBatch`es and Spark plans its codegen'd
  * ColumnarToRow on top — the same physical shape as its own parquet
  * scans. Spark requires all of a scan's partitions to agree on
  * columnar-ness, so the flag is all-or-nothing per scan. */
/** `splitStart/splitEnd` (X309, VERDICT r14 task 5): a ROW-GROUP
  * range — the partition decodes only the row groups whose bytes start
  * in `[splitStart, splitEnd)` (parquet's midpoint rule keys off the
  * group's own span, so group-start boundaries are exact), and
  * `posBase`/`posEnd` carry the group range's absolute row-position
  * window so the deletion-vector skip keys the FILE's position space,
  * not the split's. `splitEnd = -1` = whole file (every feed leg; any
  * file whose footer wasn't consulted). */
private case class CdfFilePartition(absPath: String, version: Long,
    dataSchema: StructType, root: String,
    encA: Option[String], encB: Option[String],
    emitOnly: Boolean, changeType: Option[String],
    withIds: Boolean, ridBase: Option[Long],
    bare: Boolean = false, columnar: Boolean = false,
    splitStart: Long = 0L, splitEnd: Long = -1L,
    posBase: Long = 0L, posEnd: Long = -1L)
    extends InputPartition

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

/** Every non-columnar partition — a DV'd bare scan and every feed leg —
  * decodes vectorized and is served row by row off the batch cursor.
  * Row position within the file is the cursor index (batches arrive in
  * file order; a row-group split starts at its absolute `posBase`), and
  * the marked set keys on it: `emitOnly = false` skips the marked
  * positions (a deletion vector), `emitOnly = true` emits only them (a
  * DV delta). A feed leg's row is the data row joined with one reused
  * tail row: `_row_id` when `withIds` (`ridBase + position` for a born
  * file; a rewritten file's materialized column is projected right
  * after the data columns instead), then the constant
  * `_commit_version` and `_change_type`. */
private class GraftVectorizedRowReader(p: CdfFilePartition)
    extends PartitionReader[InternalRow] {
  // DV decode FIRST: if the sidecar read throws, no parquet reader has
  // been opened yet
  private val marked = GraftVectorizedRowReader.markedSet(p)
  private val readRid = p.withIds && p.ridBase.isEmpty
  private val rdr = GraftVectorized.open(p.absPath,
    if (readRid) p.dataSchema.add(TableCommit.RowIdCol, LongType)
    else p.dataSchema,
    p.splitStart, p.splitEnd)
  private val bornRid = p.withIds && p.ridBase.isDefined
  private val ridBase = p.ridBase.getOrElse(0L)
  private val tail = {
    val id = if (bornRid) Seq(0L) else Nil // set per row in get()
    val feed = if (p.bare) Nil
      else p.version +: p.changeType.map(UTF8String.fromString).toSeq
    new GenericInternalRow((id ++ feed).toArray[Any])
  }
  private val joined = new JoinedRow
  private var pos = p.posBase - 1L
  override def next(): Boolean = {
    while (rdr.nextKeyValue()) {
      pos += 1
      if ((!marked.isEmpty && marked.contains(pos)) == p.emitOnly)
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
    if (tail.numFields == 0) row else joined(row, tail)
  }
  override def close(): Unit = rdr.close()
}

private object GraftVectorizedRowReader {
  /** The partition's marked position set, decoded EXECUTOR-side from
    * the DV encodings (inline text or a sidecar on the shared FS):
    * `decode(encA) − decode(encB)` — a deletion vector to skip
    * (`emitOnly = false`) or a DV delta to emit (`emitOnly = true`). */
  def markedSet(p: CdfFilePartition): java.util.HashSet[Long] = {
    val a = p.encA.map(TableCommit.dvDecodeEnc(p.root, _))
      .getOrElse(Seq.empty)
    val vals0 = p.encB match {
      case Some(b) =>
        val before = TableCommit.dvDecodeEnc(p.root, b).toSet
        a.filterNot(before)
      case None => a
    }
    // X309: a row-group split only ever visits its own position
    // window — keep the probe set split-sized, not file-sized
    val vals =
      if (p.posEnd < 0L) vals0
      else vals0.filter(v => v >= p.posBase && v < p.posEnd)
    val s = new java.util.HashSet[Long](vals.length * 2 + 4)
    vals.foreach(s.add(_))
    s
  }
}
