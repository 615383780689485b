package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange, TruncatableTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, MetadataBuilder, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.engine.TableCommit

/** X292: the SQL CATALOG facet — graft tables through PURE Spark SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  *   spark.sql("CREATE TABLE graft.events (k BIGINT, v STRING)")
  *   spark.sql("INSERT INTO graft.events SELECT ...")
  *   spark.sql("DELETE FROM graft.events WHERE k % 5 = 0")  // DV delete
  *   spark.sql("SELECT v, COUNT(*) FROM graft.events GROUP BY v")
  * }}}
  *
  * The catalog is a thin identity layer over the commit log: a table
  * is `warehouse/<ns…>/<name>` with its schema persisted ONCE at
  * CREATE as `_schema.json` (create-exclusive — the same claim
  * primitive as the commit arbiter, so racing CREATEs get exactly one
  * winner), everything else is the existing connector surface —
  * INSERT rides the DSv2 two-phase write (X239), INSERT OVERWRITE the
  * truncate path, SELECT the X289 read facet (manifest-stat file
  * pruning + X290 aggregate pushdown come free), and DELETE FROM
  * translates its residual filters into a [[TableCommit
  * .commitDeleteRows]] merge-on-read deletion-vector commit — zero
  * data bytes move for the classic purge. `UPDATE`/`MERGE INTO`
  * arrive through the X297 post-hoc rule, and `ALTER TABLE
  * RENAME/ADD/DROP COLUMN` rides the X276 column mapping (X298) —
  * metadata-only, atomic with the commit log. Lineage bootstrap and
  * tags stay API-level (the engine's explicit-schema discipline). */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** X320: the catalog's function namespace — exactly one function,
    * the canonical `bucket` layout hash. Spark's analyzer resolves the
    * `bucket(n, col)` transforms our tables and writes report against
    * THIS, and two scans whose transforms bind to the same canonical
    * function are storage-partitioned-join compatible. */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "days", "months", "hours")
        .map(Identifier.of(Array.empty, _))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket")
      GraftBucketUnbound
    else if (ident.namespace.isEmpty &&
        GraftTimePart.Units(ident.name)) // X327 time transforms
      new GraftTimeUnbound(ident.name)
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
  private var catalogName: String = _
  private var warehouse: String = _
  private var retain: Int = 64
  private var conflictRetries: Int = 20

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires spark.sql.catalog.$name.warehouse"))
    // SQL tables default to a REAL retention window (time travel is a
    // catalog-level expectation — VERSION AS OF on a retain=1 table
    // would dangle after every commit); override per catalog via
    // spark.sql.catalog.<name>.retain
    retain = Option(options.get("retain")).map(_.toInt).getOrElse(64)
    // SQL writers auto-rebase on commit races by default (the Delta
    // posture: INSERT INTO under concurrency should succeed, not
    // surface an optimistic-concurrency internals error to an
    // analyst); override per catalog via ….conflictretries
    conflictRetries = Option(options.get("conflictretries"))
      .map(_.toInt).getOrElse(20)
  }
  override def name(): String = catalogName

  private def requireSegSafe(s: String): Unit = {
    require(s.nonEmpty && s != "." && s != ".." &&
      !s.exists(c => c == '/' || c < 0x20),
      s"identifier segment '$s' must be a plain directory name")
    // table-internal directory names are RESERVED: an identifier that
    // resolves into another table's internals (wh/t/data, wh/_tags, …)
    // would let plain SQL DDL destroy that table's files
    require(s != "data" && !s.startsWith("_"),
      s"identifier segment '$s' is reserved (table internals are " +
        "'data' and '_'-prefixed directories)")
  }

  /** No identifier may resolve INSIDE an existing table's root: every
    * strict ancestor between the warehouse and the target must be a
    * plain namespace directory, never a table. */
  private def requireOutsideTables(root: String): Unit = {
    var p = Paths.get(root).getParent
    val wh = Paths.get(warehouse).toAbsolutePath.normalize
    while (p != null && p.toAbsolutePath.normalize != wh &&
        p.toAbsolutePath.normalize.startsWith(wh)) {
      require(!Files.exists(p.resolve("_schema.json")),
        s"identifier resolves inside existing table at $p — namespaces " +
          "and tables cannot nest")
      p = p.getParent
    }
  }

  private def rootOf(ident: Identifier): String = {
    (ident.namespace.toSeq :+ ident.name).foreach(requireSegSafe)
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")
  }

  private def schemaPath(root: String): Path =
    Paths.get(root, "_schema.json")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    namespace.foreach(requireSegSafe)
    val dir = Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        Files.exists(p.resolve("_schema.json")))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  private def baseSchema(root: String): StructType =
    DataType.fromJson(new String(
      Files.readAllBytes(schemaPath(root)),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]

  /** X316: `PARTITIONED BY (col)` — exactly one IDENTITY transform
    * over a top-level column. Recorded as FIELD METADATA inside
    * `_schema.json` (the schema file is the create-claimed atom, and
    * metadata rides the physical field, so the partition contract
    * survives renames for free). Bucket/days/hours transforms refuse:
    * the manifest stat channel proves identity layouts only. */
  private def withPartitionMeta(schema: StructType,
      partitions: Array[Transform]): StructType = {
    if (partitions.isEmpty) return schema
    // X328: multi-column lists are IDENTITY-only — the (date, region)
    // warehouse shape; bucket/time transforms stay single-column
    if (partitions.length > 1) {
      val cols = partitions.toSeq.map {
        case t if t.name == "identity" && t.references.length == 1 &&
            t.references()(0).fieldNames().length == 1 =>
          t.references()(0).fieldNames()(0)
        case other => throw new UnsupportedOperationException(
          s"graft catalog: multi-column PARTITIONED BY supports " +
            s"identity columns only; got $other")
      }
      require(cols.distinct.size == cols.size,
        s"graft catalog: duplicate partition columns: $cols")
      var out = schema
      cols.zipWithIndex.foreach { case (c, pos) =>
        val idx = out.fieldNames.indexOf(c)
        require(idx >= 0,
          s"partition column $c is not in the table schema")
        val dt = out.fields(idx).dataType
        require(dt == LongType || dt == IntegerType ||
            dt == StringType || dt == DateType,
          s"graft catalog: partition column must be BIGINT, INT, " +
            s"STRING or DATE; $c is ${dt.simpleString}")
        val f = out.fields(idx)
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(GraftCatalog.PartitionMetaKey, pos.toLong).build()
        out = StructType(out.fields.toIndexedSeq.updated(idx,
          f.copy(metadata = md)))
      }
      return out
    }
    val (col, rotate) = partitions(0) match {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        (t.references()(0).fieldNames()(0),
          GraftRotate.Identity: GraftRotate)
      // X320: bucket(n, col) — the bounded-file-count layout for
      // high-cardinality keys (the Iceberg bucket-join shape)
      case t if t.name == "bucket" && t.references.length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a numeric bucket count: $t"))
        require(n > 0 && n <= 100000,
          s"graft catalog: bucket count must be in [1, 100000], got $n")
        (t.references()(0).fieldNames()(0),
          GraftRotate.Bucket(n): GraftRotate)
      // X327: days/months/hours over a TIMESTAMP — the Iceberg time
      // transforms, the layout every event table declares
      case t if GraftTimePart.Units(t.name) &&
          t.references.length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        (t.references()(0).fieldNames()(0),
          GraftRotate.Time(t.name): GraftRotate)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: only PARTITIONED BY (<column>), " +
          s"PARTITIONED BY (bucket(n, <column>)) and PARTITIONED BY " +
          s"(days|months|hours(<timestamp column>)) are supported; " +
          s"got $other")
    }
    val idx = schema.fieldNames.indexOf(col)
    require(idx >= 0,
      s"partition column $col is not in the table schema")
    val dt = schema.fields(idx).dataType
    rotate match {
      case GraftRotate.Identity =>
        // DATE joins the identity family (VERDICT r15 task 2):
        // epoch-day rotation, ISO stats, the daily-batch layout
        require(dt == LongType || dt == IntegerType ||
            dt == StringType || dt == DateType,
          s"graft catalog: partition column must be BIGINT, INT, " +
            s"STRING or DATE; $col is ${dt.simpleString}")
      case GraftRotate.Bucket(_) =>
        require(dt == LongType || dt == IntegerType || dt == StringType,
          s"graft catalog: bucket column must be BIGINT, INT or " +
            s"STRING; $col is ${dt.simpleString}")
      case GraftRotate.Time(unit) =>
        require(dt == org.apache.spark.sql.types.TimestampType,
          s"graft catalog: $unit($col) requires a TIMESTAMP column; " +
            s"$col is ${dt.simpleString} (a DATE column partitions " +
            "by identity)")
    }
    val f = schema.fields(idx)
    val md0 = new MetadataBuilder().withMetadata(f.metadata)
      .putBoolean(GraftCatalog.PartitionMetaKey, true)
    val md = (rotate match {
      case GraftRotate.Bucket(n) =>
        md0.putLong(GraftCatalog.BucketMetaKey, n.toLong)
      case GraftRotate.Time(unit) =>
        md0.putString(GraftCatalog.TimeUnitMetaKey, unit)
      case GraftRotate.Identity => md0
    }).build()
    StructType(schema.fields.toIndexedSeq.updated(idx,
      f.copy(metadata = md)))
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val root = rootOf(ident)
    val sp = schemaPath(root)
    if (!Files.exists(sp)) throw new NoSuchTableException(ident)
    // X298: `_schema.json` stores fields under their PHYSICAL names
    // (immutable per column — for pre-evolution tables identical to
    // the logical names); the LOGICAL schema is derived through the
    // manifest-carried column mapping, so renames/drops are ATOMIC
    // with their engine commit and era-correct under time travel —
    // the schema file itself never has to change for them.
    val base = baseSchema(root)
    val cm = (asOf match {
      case Some(v) => TableCommit.colMappingAt(root, v)
      case None    => TableCommit.colMapping(root)
    }).getOrElse(TableCommit.ColMapping(Map.empty, Seq.empty))
    val dead = cm.dead.toSet
    val logicalOf = cm.renames.map(_.swap)
    val schema = StructType(base.fields.toIndexedSeq
      .filterNot(f => dead.contains(f.name))
      .map(f => f.copy(name = logicalOf.getOrElse(f.name, f.name))))
    val toPhysical = schema.fieldNames.zip(base.fields
      .filterNot(f => dead.contains(f.name)).map(_.name))
      .filter { case (l, p) => l != p }.toMap
    val props = new util.HashMap[String, String]()
    props.put("root", root)
    props.put("retain", retain.toString)
    props.put("conflictretries", conflictRetries.toString)
    // X316: the partition column (metadata rode the physical field
    // through the rename/drop filters above, so this is the LOGICAL
    // name of a live column — a dropped partition column is refused at
    // ALTER time); X320: a bucket count beside it means bucket layout
    val layout = GraftCatalog.layoutOfSchema(schema)
    new GraftCatalogTable(schema, props, root,
      s"$catalogName.${(ident.namespace.toSeq :+ ident.name).mkString(".")}" +
        asOf.map(v => s"@v$v").getOrElse(""),
      asOf, retain, toPhysical, conflictRetries,
      layout.map(_._1).getOrElse(Nil),
      layout.map(_._2).getOrElse(GraftRotate.Identity))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** X293 `VERSION AS OF <v>` — SQL time travel onto [[TableCommit
    * .entriesAtVersion]]; the version must still be retained. */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version.nonEmpty && version.forall(_.isDigit),
      s"graft VERSION AS OF wants a numeric commit version, got " +
        s"'$version'")
    load(ident, Some(version.toLong))
  }

  /** X293 `TIMESTAMP AS OF <ts>` — Spark hands MICROSECONDS since the
    * epoch; resolution is [[TableCommit.versionAsOf]]'s manifest-mtime
    * rule. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident,
      Some(TableCommit.versionAsOf(rootOf(ident), timestampMicros / 1000L)))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // X316: PARTITIONED BY (col) marks the field in the claimed schema
    val schemaP = withPartitionMeta(schema, partitions)
    val root = rootOf(ident)
    requireOutsideTables(root)
    // an existing TABLE is the already-exists case (the type Spark's
    // IF NOT EXISTS path swallows), checked before the foreign-content
    // refusal so a lost CREATE race reads as what it is
    if (Files.exists(schemaPath(root)))
      throw new TableAlreadyExistsException(ident)
    // never ADOPT an existing non-empty directory: its contents would
    // become this table's to drop
    if (Files.isDirectory(Paths.get(root))) {
      val s = Files.list(Paths.get(root))
      val nonEmpty = try s.findFirst().isPresent finally s.close()
      require(!nonEmpty,
        s"CREATE TABLE target directory $root already exists and is " +
          "not empty — refusing to adopt foreign contents")
    }
    try TableCommit.claimFile(schemaPath(root),
      schemaP.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new TableAlreadyExistsException(ident)
    }
    loadTable(ident)
  }

  /** X312: ATOMIC `CREATE TABLE AS SELECT` — the [[org.apache.spark
    * .sql.connector.catalog.StagingTableCatalog]] protocol. The root
    * is RESERVED with a create-exclusive `_schema.staging` marker
    * (losing the claim = the standard already-exists error); the CTAS
    * write then lands data + commit log under the root while the
    * table stays INVISIBLE (every load keys on `_schema.json`), and
    * `commitStagedChanges` makes it exist in one atomic rename of the
    * marker — a failed or racing CTAS never leaves a half-visible
    * table (`abortStagedChanges` removes the reserved root). A CTAS
    * crash between write and commit leaves an invisible staged
    * directory; it is operator debris exactly like a crashed commit's
    * staged batch (remove the directory, or finish the rename by
    * hand). REPLACE forms are refused — an atomic whole-table swap is
    * the engine's `commitOverwrite`. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    // X316: CTAS PARTITIONED BY — the staged marker carries the marked
    // schema, so the partition contract commits atomically with it
    val schemaP = withPartitionMeta(schema, partitions)
    val root = rootOf(ident)
    requireOutsideTables(root)
    val marker = Paths.get(root, "_schema.staging")
    // an existing table OR an in-flight staged CTAS both read as the
    // standard already-exists error (the marker claim below is the
    // race arbiter; this pre-check just names the common case)
    if (Files.exists(schemaPath(root)) || Files.exists(marker))
      throw new TableAlreadyExistsException(ident)
    if (Files.isDirectory(Paths.get(root))) {
      val s = Files.list(Paths.get(root))
      val nonEmpty = try s.findFirst().isPresent finally s.close()
      require(!nonEmpty,
        s"CTAS target directory $root already exists and is not " +
          "empty — refusing to adopt foreign contents")
    }
    try TableCommit.claimFile(marker,
      schemaP.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new TableAlreadyExistsException(ident)
    }
    val props = new util.HashMap[String, String]()
    props.put("root", root)
    props.put("retain", retain.toString)
    props.put("conflictretries", conflictRetries.toString)
    new GraftStagedTable(schemaP, props, root,
      s"$catalogName.${(ident.namespace.toSeq :+ ident.name).mkString(".")}",
      retain, conflictRetries, marker, ident)
  }

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreate(ident, info.schema(), info.partitions(),
      info.properties())

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    throw new UnsupportedOperationException(
      "graft catalog: REPLACE TABLE AS SELECT is not supported — use " +
        "INSERT OVERWRITE (a truncate-replace commit) or the engine's " +
        "commitOverwrite")

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    throw new UnsupportedOperationException(
      "graft catalog: CREATE OR REPLACE TABLE AS SELECT is not " +
        "supported — CREATE then INSERT OVERWRITE")

  /** X298 (VERDICT r13 task 6): SQL `ALTER TABLE … RENAME COLUMN /
    * DROP COLUMN / ADD COLUMN` over the X276 column mapping.
    *
    * RENAME and DROP are pure ENGINE commits
    * ([[TableCommit.commitRenameColumn]]/[[TableCommit
    * .commitDropColumn]]): one metadata-only manifest publish flips
    * the mapping — zero data moved, atomic with every reader (the
    * schema file is physical-keyed and untouched), era-correct under
    * `VERSION AS OF`. On a table with no commits yet they edit the
    * schema file directly (there is no manifest to carry a mapping,
    * and no data a mapping would protect).
    *
    * ADD appends the new field to `_schema.json`; when the name was
    * ever used before (a dropped column, a rename target) the engine
    * first mints a FRESH physical name (`commitAddColumn`) so old
    * bytes can never resurrect — the schema file then carries the
    * fresh physical, the mapping the logical. Pre-existing files read
    * NULL for the new column (the X295 evolution contract). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!Files.exists(schemaPath(root)))
      throw new NoSuchTableException(ident)
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft ALTER TABLE: nested fields are not supported")
        val from = r.fieldNames()(0)
        if (TableCommit.currentVersion(root).isEmpty)
          editVirginSchema(root) { s =>
            require(s.fieldNames.contains(from),
              s"no column $from in ${ident.name}")
            require(!s.fieldNames.contains(r.newName),
              s"column ${r.newName} already exists")
            StructType(s.fields.toIndexedSeq.map(f =>
              if (f.name == from) f.copy(name = r.newName) else f))
          }
        else {
          // the engine only guards the MAPPING namespace; the catalog
          // must also refuse a collision with a current IDENTITY
          // column, or the derived logical schema would carry the new
          // name twice (one mapped, one identity)
          require(!currentLogicalNames(root).contains(r.newName),
            s"column ${r.newName} already exists in ${ident.name}")
          TableCommit.commitRenameColumn(root, from, r.newName,
            retain = retain)
        }
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft ALTER TABLE: nested fields are not supported")
        val name = d.fieldNames()(0)
        // X316: the partition column is load-bearing for the table's
        // layout contract — dropping it would orphan the declaration
        baseSchema(root).fields
          .find(_.metadata.contains(GraftCatalog.PartitionMetaKey))
          .foreach { pf =>
            val logical = TableCommit.colMapping(root)
              .map(cm => cm.renames.map(_.swap)
                .getOrElse(pf.name, pf.name))
              .getOrElse(pf.name)
            require(name != logical,
              s"cannot drop $name: it is the table's partition column")
          }
        if (TableCommit.currentVersion(root).isEmpty)
          editVirginSchema(root) { s =>
            require(s.fieldNames.contains(name),
              s"no column $name in ${ident.name}")
            StructType(s.fields.toIndexedSeq.filterNot(_.name == name))
          }
        else
          TableCommit.commitDropColumn(root, name, retain = retain)
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft ALTER TABLE: nested fields are not supported")
        // loud, not lossy (review finding): pre-existing rows read
        // NULL for an added column by construction, so a NOT NULL
        // constraint cannot be honored — refuse rather than silently
        // minting a nullable column under a NOT NULL declaration
        require(a.isNullable,
          "graft ALTER TABLE ADD COLUMN: NOT NULL is not supported — " +
            "files written before the column exists read NULL for it")
        val name = a.fieldNames()(0)
        val base0 = baseSchema(root)
        val cm = TableCommit.colMapping(root)
          .getOrElse(TableCommit.ColMapping(Map.empty, Seq.empty))
        val dead = cm.dead.toSet
        val logicalOf = cm.renames.map(_.swap)
        val currentLogical = base0.fields
          .filterNot(f => dead.contains(f.name))
          .map(f => logicalOf.getOrElse(f.name, f.name)).toSet
        require(!currentLogical.contains(name),
          s"column $name already exists in ${ident.name}")
        // crash recovery: the mapping already minted a fresh physical
        // for this name but the schema append never landed — finish it
        val pendingPhys = cm.renames.get(name)
          .filterNot(p => base0.fieldNames.contains(p))
        val everUsed = dead.contains(name) ||
          cm.renames.values.exists(_ == name) ||
          base0.fieldNames.contains(name)
        val physical = pendingPhys.getOrElse {
          if (!everUsed) name
          else {
            // the name's physical slot was used before (a dropped
            // column's bytes, a rename's old name): the ENGINE mints a
            // fresh physical first, so old values can never resurrect
            TableCommit.commitAddColumn(root, name, retain = retain)
            TableCommit.colMapping(root)
              .map(_.physical(name)).getOrElse(name)
          }
        }
        editVirginSchema(root) { s =>
          require(!s.fieldNames.contains(physical),
            s"column $name already exists")
          StructType(s.fields.toIndexedSeq :+
            org.apache.spark.sql.types.StructField(physical,
              a.dataType, nullable = true))
        }
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports RENAME COLUMN, DROP COLUMN and " +
          s"ADD COLUMN; got $other — type/comment/position changes " +
          "are API-level (commit layer) concerns")
    }
    loadTable(ident)
  }

  /** The CURRENT logical column set (base physical fields minus
    * tombstones, renamed through the mapping) — the existence oracle
    * for ALTER TABLE name checks. */
  private def currentLogicalNames(root: String): Set[String] = {
    val base0 = baseSchema(root)
    val cm = TableCommit.colMapping(root)
      .getOrElse(TableCommit.ColMapping(Map.empty, Seq.empty))
    val dead = cm.dead.toSet
    val logicalOf = cm.renames.map(_.swap)
    base0.fields.filterNot(f => dead.contains(f.name))
      .map(f => logicalOf.getOrElse(f.name, f.name)).toSet
  }

  /** Rewrite `_schema.json` (tmp + atomic rename). The file is only
    * ever edited for virgin-table renames/drops and column ADDs — the
    * mapped cases ride the manifest and never touch it.
    *
    * ADVICE r14: the read-modify-write is guarded by a CREATE-EXCLUSIVE
    * lock file (the same claim primitive as the commit arbiter), so two
    * concurrent ALTER TABLE statements serialize instead of the second
    * atomic move silently overwriting the first's edit. A crashed
    * editor's stale lock (>60 s — schema edits are milliseconds) is
    * broken by the next editor; waiting editors give up loudly after
    * 30 s rather than spinning forever. */
  private def editVirginSchema(root: String)(
      f: StructType => StructType): Unit =
    // same-JVM editors (the realistic shape: one driver's ALTER
    // statements) serialize on a per-root monitor — no filesystem race
    // at all; the claim file below covers CROSS-process editors
    GraftCatalog.editMonitors
      .computeIfAbsent(root, _ => new Object).synchronized {
    val lock = Paths.get(root, "_schema.lock")
    val deadline = System.currentTimeMillis() + 30000L
    var held = false
    while (!held) {
      try {
        TableCommit.claimFile(lock, Array.emptyByteArray)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          def age(): Long =
            try System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis
            catch { case _: Throwable => 0L } // vanished: retry claim
          // stale break: re-stat IMMEDIATELY before the delete so a
          // lock another breaker just broke-and-reclaimed (fresh
          // mtime) is never deleted out from under its new owner
          // (review finding; the residual stat→delete window is
          // microseconds against a 60 s staleness bar, and same-JVM
          // breakers are already serialized by the monitor above)
          if (age() > 60000L) {
            if (age() > 60000L) Files.deleteIfExists(lock)
          } else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"schema edit lock at $lock held for ${age()} ms — a " +
                "concurrent ALTER TABLE is stuck or crashed recently; " +
                "retry, or remove the lock if no editor is live")
          else Thread.sleep(50L)
      }
    }
    try {
      TableCommit.replaceFile(schemaPath(root), f(baseSchema(root)).json
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally Files.deleteIfExists(lock)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!Files.exists(schemaPath(root))) return false
    val dir = Paths.get(root)
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(p => Files.deleteIfExists(p))
    finally s.close()
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = rootOf(from); val dst = rootOf(to)
    if (!Files.exists(schemaPath(src)))
      throw new NoSuchTableException(from)
    requireOutsideTables(dst)
    if (Files.exists(Paths.get(dst)))
      throw new TableAlreadyExistsException(to)
    Files.createDirectories(Paths.get(dst).getParent)
    Files.move(Paths.get(src), Paths.get(dst))
  }
}

/** A catalog-resolved graft table: the full connector surface
  * (read/write/stream facets) plus `TRUNCATE TABLE`. `private[graft]`
  * (not just `[sources]`): the X297 DML rule in graft.plans
  * pattern-matches it to route SQL DELETE FROM/UPDATE/MERGE INTO onto
  * the commit layer's merge-on-read deletion vectors. */
private[graft] class GraftCatalogTable(schema0: StructType,
    properties: util.Map[String, String], root: String,
    displayName: String, asOf: Option[Long] = None, retain: Int = 64,
    mapping: Map[String, String] = Map.empty,
    conflictRetries: Int = 20, partCols: Seq[String] = Nil,
    rotate: GraftRotate = GraftRotate.Identity)
    extends GraftWriteTable(schema0, properties) with TruncatableTable {
  override def name(): String = displayName

  /** X316/X320: a `PARTITIONED BY` table declares its layout to Spark
    * (DESCRIBE shows it), defaults its scans to the clustered shape
    * (X314 KeyGroupedPartitioning when the manifest proves the
    * layout), and rotates its batch writes per value — or per BUCKET
    * of the value under `bucket(n, col)` — so the proof always holds
    * for catalog-written files. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    rotate match {
      case GraftRotate.Bucket(n) =>
        partCols.map(c => Expressions.bucket(n, c): Transform).toArray
      case GraftRotate.Time("days") =>
        partCols.map(c => Expressions.days(c): Transform).toArray
      case GraftRotate.Time("months") =>
        partCols.map(c => Expressions.months(c): Transform).toArray
      case GraftRotate.Time(_) =>
        partCols.map(c => Expressions.hours(c): Transform).toArray
      case GraftRotate.Identity | GraftRotate.Tuple(_) =>
        partCols.map(c => Expressions.identity(c): Transform).toArray
    }
  }
  override protected def partitionColumns: Seq[String] = partCols
  override protected def partitionRotate: GraftRotate = rotate

  /** X310: `MERGE INTO … WITH SCHEMA EVOLUTION` — declaring
    * AUTOMATIC_SCHEMA_EVOLUTION lets Spark's analyzer route the
    * source-only columns through [[GraftCatalog.alterTable]] (the X298
    * ADD COLUMN path, fresh-physical-safe against resurrection) and
    * re-resolve the target before the DML rule runs; pre-existing rows
    * read NULL for the new columns. Type WIDENING changes still refuse
    * loudly in alterTable (type changes are commit-layer concerns). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCapability] = {
    val s = java.util.EnumSet.copyOf(super.capabilities())
    s.add(org.apache.spark.sql.connector.catalog.TableCapability
      .AUTOMATIC_SCHEMA_EVOLUTION)
    // X331: partitioned tables serve INSERT OVERWRITE under
    // partitionOverwriteMode=dynamic (written keys replace, the rest
    // survives byte-identical)
    if (partCols.nonEmpty)
      s.add(org.apache.spark.sql.connector.catalog.TableCapability
        .OVERWRITE_DYNAMIC)
    s
  }
  override protected def asOfVersion: Option[Long] = asOf
  /** X298: logical → physical for MAPPED columns (identity entries
    * omitted); scans read and writes land under physical names. */
  override protected def toPhysical: Map[String, String] = mapping

  /** The X297 DML rule's view of this table. */
  private[graft] def tableRoot: String = root
  private[graft] def logicalSchema: StructType = schema0
  private[graft] def tableRetain: Int = retain
  private[graft] def tableConflictRetries: Int = conflictRetries
  private[graft] def physicalName(c: String): String =
    mapping.getOrElse(c, c)
  private[graft] def physicalSchema: StructType =
    StructType(schema0.fields.toIndexedSeq.map(f =>
      f.copy(name = physicalName(f.name))))
  /** A time-travel pin is a read-only snapshot; DML on it is a
    * contract error said loudly, not a write to the wrong version. */
  private[graft] def requireHeadForDml(stmt: String): Unit =
    require(asOf.isEmpty,
      s"$stmt cannot target a VERSION/TIMESTAMP AS OF snapshot " +
        s"($displayName) — DML applies to the table head")

  /** `TRUNCATE TABLE`: one metadata-only commit to an EMPTY file list
    * — not a whole-table deletion vector (marking every row dead would
    * write position sets proportional to the table). History is
    * retention-governed like any overwrite. */
  override def truncateTable(): Boolean = {
    TableCommit.publish(root, Seq.empty, retain = retain)
    true
  }
}

/** The staged half of X312: a fully-functional catalog table (writes
  * land normally under the reserved root) that only becomes VISIBLE at
  * `commitStagedChanges` — one atomic marker→schema rename. */
private class GraftStagedTable(schema0: StructType,
    properties: util.Map[String, String], root: String,
    displayName: String, retain: Int, conflictRetries: Int,
    marker: Path, ident: Identifier)
    extends GraftCatalogTable(schema0, properties, root, displayName,
      None, retain, Map.empty, conflictRetries,
      // X316/X320: a partitioned CTAS rotates its write exactly like a
      // post-CREATE insert — the marked schema carries the contract
      GraftCatalog.layoutOfSchema(schema0).map(_._1).getOrElse(Nil),
      GraftCatalog.layoutOfSchema(schema0).map(_._2)
        .getOrElse(GraftRotate.Identity))
    with org.apache.spark.sql.connector.catalog.StagedTable {
  override def commitStagedChanges(): Unit =
    try Files.move(marker, Paths.get(root, "_schema.json"))
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new TableAlreadyExistsException(ident)
    }
  override def abortStagedChanges(): Unit = {
    // the marker claim made this root OURS — remove everything the
    // staged write put under it (readers never saw any of it)
    val dir = Paths.get(root)
    if (Files.isDirectory(dir)) {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => Files.deleteIfExists(p))
      } finally s.close()
    }
  }
}

private[graft] object GraftCatalog {
  /** X316: the field-metadata key marking a table's partition column
    * inside `_schema.json`. */
  val PartitionMetaKey = "graft.partition"

  /** X320: the field-metadata key carrying a bucketed table's bucket
    * count beside [[PartitionMetaKey]]. */
  val BucketMetaKey = "graft.buckets"

  /** X327: the field-metadata key carrying a time-partitioned table's
    * transform unit (`days`/`months`/`hours`) beside
    * [[PartitionMetaKey]]. */
  val TimeUnitMetaKey = "graft.timeunit"

  /** The rotation a marked partition field declares. */
  def rotateOf(f: org.apache.spark.sql.types.StructField): GraftRotate =
    if (f.metadata.contains(BucketMetaKey))
      GraftRotate.Bucket(f.metadata.getLong(BucketMetaKey).toInt)
    else if (f.metadata.contains(TimeUnitMetaKey))
      GraftRotate.Time(f.metadata.getString(TimeUnitMetaKey))
    else GraftRotate.Identity

  /** X328: a marked field's position in the declared column list —
    * multi-column tables store it as the metadata value (Long);
    * single-column tables (and every pre-X328 table) store a Boolean,
    * which reads as position 0. */
  def partPosOf(f: org.apache.spark.sql.types.StructField): Int =
    try f.metadata.getLong(PartitionMetaKey).toInt
    catch { case _: Exception => 0 }

  /** The declared layout of a schema: ordered partition columns plus
    * the rotation (`Tuple(rest)` for multi-column identity lists).
    * ONE derivation shared by table load, CTAS staging and the
    * root-level [[partitionLayoutOf]]. */
  def layoutOfSchema(s: StructType): Option[(Seq[String], GraftRotate)] = {
    val fs = s.fields.toIndexedSeq
      .filter(_.metadata.contains(PartitionMetaKey))
      .sortBy(partPosOf)
    fs match {
      case Seq()  => None
      case Seq(f) => Some(Seq(f.name) -> rotateOf(f))
      case many   => Some(many.map(_.name) ->
        GraftRotate.Tuple(many.tail.map(_.name)))
    }
  }

  /** X318: a root's declared IDENTITY partition column (PHYSICAL name
    * — what the staging and stats layers speak) from `_schema.json`'s
    * field metadata; None for unpartitioned, bucketed (those route
    * through [[partitionLayoutOf]]'s bucket arm), or non-catalog
    * roots. Lets the maintenance verbs preserve a partitioned table's
    * layout. */
  def partitionColOf(root: String): Option[String] =
    partitionLayoutOf(root).collect {
      case (c, GraftRotate.Identity) => c }

  /** X321: the full declared layout — (column, Some(n)) for a
    * bucketed table, (column, None) for identity, None for
    * unpartitioned or non-catalog roots. PHYSICAL column name. */
  def partitionLayoutOf(root: String): Option[(String, GraftRotate)] =
    try {
      val p = Paths.get(root, "_schema.json")
      if (!Files.exists(p)) None
      else layoutOfSchema(DataType.fromJson(new String(
          Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[StructType])
        .map { case (cols, r) => cols.head -> r }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-root monitors serializing same-JVM virgin-schema edits (the
    * cross-process half is the claim file in [[GraftCatalog
    * .editVirginSchema]]). Table-count-sized, never cleaned — a
    * monitor is one object per root ever edited in this JVM. */
  private[sources] val editMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
