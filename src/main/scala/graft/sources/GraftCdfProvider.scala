package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
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
  * Executor-side parquet reading uses parquet-hadoop's public Group
  * API — the read-side mirror of [[GraftDataWriter]]'s writer leg, no
  * private Spark machinery — covering the Spark-written table types
  * long/int/short/byte/double/float/string/boolean/binary/date/
  * timestamp (INT96 and annotated INT64 alike); decimals and nested
  * types fail LOUDLY at the first row rather than decode wrong.
  * Planning is manifest-only on the driver; row bytes never visit it.
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
            "table must only be written through commitAppendTracked / " +
            "preserveRowIds rewrites")
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
  * partition of the scan is a DV-free bare read of vectorized-decode
  * types): the reader factory serves raw `ColumnarBatch`es and Spark
  * plans its codegen'd ColumnarToRow on top — the same physical shape
  * as its own parquet scans. Spark requires all of a scan's partitions
  * to agree on columnar-ness, so the flag is all-or-nothing per scan. */
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

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = unwrap(p)
    // X295 row-view leg: a BARE scan (no feed tail, no identity
    // column) decodes vectorized even when a DV forces row-granular
    // skipping; anything the vectorized path can't serve — feed legs,
    // exotic types, an unreadable-footer surprise — falls back to the
    // Group reader, which remains the semantics reference.
    if (part.bare && !part.withIds &&
        GraftVectorized.supportedSchema(part.dataSchema)) {
      try new GraftVectorizedRowReader(part)
      catch { case scala.util.control.NonFatal(_) =>
        new GraftCdfFileReader(part)
      }
    } else new GraftCdfFileReader(part)
  }
}

/** X295: vectorized decode served row-by-row off the batch cursor —
  * the DV'd-bare-scan path. Row position within the file is the
  * sequential cursor index (batches arrive in file order), so the
  * deletion-vector skip keys exactly as in the Group reader. */
private class GraftVectorizedRowReader(p: CdfFilePartition)
    extends PartitionReader[InternalRow] {
  require(p.bare && !p.emitOnly && !p.withIds,
    s"vectorized row view supports bare live scans only: ${p.absPath}")
  // DV decode FIRST (review finding): if the sidecar read throws, no
  // parquet reader has been opened yet — nothing leaks into the
  // factory's Group-reader fallback
  private val marked = GraftCdfFileReader.markedSet(p)
  private val rdr = GraftVectorized.open(p.absPath, p.dataSchema,
    p.splitStart, p.splitEnd)
  // X309: a row-group split's cursor starts at the range's absolute
  // base, so positions key the file's space exactly as an unsplit scan
  private var pos = p.posBase - 1L
  override def next(): Boolean = {
    while (rdr.nextKeyValue()) {
      pos += 1
      if (marked.isEmpty || !marked.contains(pos)) return true
    }
    false
  }
  override def get(): InternalRow =
    rdr.getCurrentValue.asInstanceOf[InternalRow]
  override def close(): Unit = rdr.close()
}

/** Executor-side parquet reader: parquet-hadoop's Group API (the
  * read mirror of [[GraftDataWriter]]), emitting data columns + the
  * partition's commit version. Row position within the file is the
  * sequential read index — the same order `_metadata.row_index`
  * exposes — which is what the deletion-vector skip keys on. */
private class GraftCdfFileReader(p: CdfFilePartition)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.example.data.Group

  private val reader: ParquetReader[Group] = {
    val path = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(p.absPath).toUri)
    // the writers' shared read-only Configuration: a fresh one re-parses
    // the Hadoop XML defaults for every feed partition
    val b = ParquetReader.builder(new GroupReadSupport(), path)
      .withConf(GraftDataWriter.sharedConf)
    // X309: honor a row-group split if one was planned (the
    // vectorized-open-failed fallback must read the same range)
    (if (p.splitEnd >= 0L) b.withFileRange(p.splitStart, p.splitEnd)
     else b).build()
  }
  private val marked: java.util.HashSet[Long] =
    GraftCdfFileReader.markedSet(p)
  private var pos = p.posBase - 1L
  private var current: Group = _

  override def next(): Boolean = {
    var g = reader.read()
    pos += 1
    // emitOnly=false: positions are a deletion vector, skip them;
    // emitOnly=true: positions are the payload, skip everything else
    while (g != null && (marked.contains(pos) == !p.emitOnly)) {
      g = reader.read(); pos += 1
    }
    current = g
    g != null
  }

  override def get(): InternalRow = {
    val n = p.dataSchema.fields.length
    val extra = (if (p.withIds) 1 else 0) +
      (if (p.bare) 0 else if (p.changeType.isDefined) 2 else 1)
    val vals = new Array[Any](n + extra)
    var i = 0
    while (i < n) {
      val f = p.dataSchema.fields(i)
      vals(i) =
        if (current.getFieldRepetitionCount(f.name) == 0) null
        else f.dataType match {
          case LongType    => current.getLong(f.name, 0)
          case IntegerType => current.getInteger(f.name, 0)
          case DoubleType  => current.getDouble(f.name, 0)
          case StringType  => UTF8String.fromString(
            current.getBinary(f.name, 0).toStringUsingUTF8)
          case BooleanType => current.getBoolean(f.name, 0)
          case FloatType   => current.getFloat(f.name, 0)
          case ShortType   => current.getInteger(f.name, 0).toShort
          case ByteType    => current.getInteger(f.name, 0).toByte
          case BinaryType  => current.getBinary(f.name, 0).getBytes
          case DateType    => current.getInteger(f.name, 0) // days
          case TimestampType =>
            // InternalRow wants epoch MICROS; the file carries either
            // Spark's default INT96 (julian day + nanos-of-day, both
            // little-endian) or INT64 with a millis/micros/nanos
            // timestamp annotation
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
            import org.apache.parquet.schema.LogicalTypeAnnotation
            val pt = current.getType.getType(f.name).asPrimitiveType()
            pt.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT96 =>
                val buf = java.nio.ByteBuffer
                  .wrap(current.getInt96(f.name, 0).getBytes)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                val nanosOfDay = buf.getLong
                val julianDay = buf.getInt
                (julianDay - 2440588).toLong * 86400000000L +
                  nanosOfDay / 1000L
              case PrimitiveTypeName.INT64 =>
                val v = current.getLong(f.name, 0)
                pt.getLogicalTypeAnnotation match {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
                      case LogicalTypeAnnotation.TimeUnit.NANOS  => v / 1000L
                      case _                                     => v
                    }
                  case _ => v // unannotated: assume micros
                }
              case other => throw new IllegalArgumentException(
                s"graft-cdf: timestamp column ${f.name} has physical " +
                  s"type $other (expected INT96 or INT64)")
            }
          case other => throw new IllegalArgumentException(
            s"graft-cdf: unsupported type $other for column ${f.name} " +
              "(supported: long/int/short/byte/double/float/string/" +
              "boolean/binary/date/timestamp)")
        }
      i += 1
    }
    var j = n
    if (p.withIds) {
      // X280: identity — birth arithmetic for files in birth layout,
      // the materialized column for rewritten ones
      vals(j) = p.ridBase match {
        case Some(b) => b + pos
        case None =>
          require(
            current.getFieldRepetitionCount(TableCommit.RowIdCol) > 0,
            s"materialized ${TableCommit.RowIdCol} missing at " +
              s"position $pos of ${p.absPath}")
          current.getLong(TableCommit.RowIdCol, 0)
      }
      j += 1
    }
    if (!p.bare) {
      vals(j) = p.version
      p.changeType.foreach(t => vals(j + 1) = UTF8String.fromString(t))
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def close(): Unit = reader.close()
}

private object GraftCdfFileReader {
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
