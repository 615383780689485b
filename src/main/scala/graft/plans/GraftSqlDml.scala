package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.StructType
import graft.engine.TableCommit

/** X297 (VERDICT r13 task 2): SQL `DELETE FROM`, `UPDATE` and
  * `MERGE INTO` for graft-catalog tables (X292 wired
  * CREATE/INSERT/TRUNCATE).
  *
  * Spark's own path for these statements requires
  * `SupportsRowLevelOperations` (a scan-build-replace protocol sized
  * for engines that rewrite files); graft's row-level DML is already
  * DONE in the commit layer as merge-on-read deletion-vector commits
  * ([[TableCommit.commitUpdateRows]]/[[TableCommit.commitMergeRows]]),
  * so this post-hoc resolution rule — the extension point production
  * lakehouse formats use for exactly this — swaps the analyzed
  * `UpdateTable`/`MergeIntoTable` over a graft table for an eager
  * command that drives the engine's native commit:
  *
  *   - `DELETE FROM t WHERE pred` → one DV commit marking the rows
  *     `pred` holds for dead. The resolved predicate goes to the
  *     engine whole (subqueries refused), so any side of an `OR` or a
  *     `NOT` is kept (Spark's own route for `SupportsDelete` tables
  *     hands over data-source filters, which cannot express
  *     `u % 7 = 1`, and lost such a side of an `OR`);
  *   - `UPDATE t SET c = expr, … WHERE pred` → one DV commit marking
  *     the victims dead beside their updated images (zero target
  *     files rewritten; on a row-id-TRACKED table the images keep
  *     their stable ids — X275 lineage);
  *   - `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE
  *     SET * WHEN NOT MATCHED THEN INSERT *` (or explicit assignment
  *     lists equivalent to it) → the X272 broadcast merge-on-read
  *     upsert, lineage-preserving on tracked tables (X278). A source
  *     carrying duplicate join keys is refused loudly (the ANSI
  *     multiple-match error), as is a shape the engine's upsert
  *     cannot express — each refusal names the Scala API that can.
  *
  * Scale: both commands inherit the engine paths' properties — the
  * UPDATE scan is one pass with executor-side position folds, the
  * MERGE broadcasts only the batch-sized key set; nothing
  * table-proportional visits the driver. */
case class GraftSqlDml(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private def graftTable(p: LogicalPlan)
      : Option[(graft.sources.GraftCatalogTable, DataSourceV2Relation)] =
    p match {
      case SubqueryAlias(_, child) => graftTable(child)
      case r: DataSourceV2Relation => r.table match {
        case t: graft.sources.GraftCatalogTable => Some((t, r))
        case _ => None
      }
      case _ => None
    }

  private def refuse(stmt: String, why: String, api: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft SQL $stmt: $why — use the Scala API ($api) for this shape")

  /** Resolved target-column expressions → their SQL text, re-parsed
    * against the engine's own scan at run time (exprIds don't survive
    * the re-read, and CheckAnalysis would flag held attribute refs on
    * a leaf command as dangling — SQL text round-trips cleanly because
    * the target's columns are the only names in scope). Qualifiers are
    * stripped first (`t.k` must re-resolve as bare `k`). Subqueries
    * carry whole plans inside the expression and cannot round-trip:
    * refused. */
  private def toSql(stmt: String, e: Expression,
      phys: String => String): String = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      refuse(stmt, "subqueries in DML expressions are not supported",
        "commitUpdateRows/commitMergeRows with a pre-joined predicate")
    e.transform {
      case a: AttributeReference =>
        // X298: the engine scan serves PHYSICAL names
        a.withQualifier(Seq.empty).withName(phys(a.name))
    }.sql
  }

  /** A resolved DELETE predicate as a [[org.apache.spark.sql.Column]]
    * that re-resolves by (physical) name against the engine's own scan —
    * the exact predicate, without a round trip through SQL text. */
  private def byName(e: Expression,
      phys: String => String): org.apache.spark.sql.Column = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      refuse("DELETE FROM", "subqueries in DML expressions are not supported",
        "commitDeleteRows with a pre-joined predicate")
    Shim.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(phys(a.name)))
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftTable(target).isDefined =>
      val (t, rel) = graftTable(target).get
      t.requireHeadForDml("DELETE FROM")
      GraftDeleteCommand(t.tableRoot, t.physicalSchema, t.tableRetain,
        byName(condition, t.physicalName),
        t.tableConflictRetries,
        rel.catalog.map(_.name()).toSeq ++ rel.identifier.toSeq.flatMap(
          id => id.namespace().toSeq :+ id.name()))

    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTable(target).isDefined =>
      val (t, _) = graftTable(target).get
      t.requireHeadForDml("UPDATE")
      val phys = (c: String) => t.physicalName(c)
      val sets = assignments.map {
        case Assignment(k: AttributeReference, v) =>
          phys(k.name) -> toSql("UPDATE", v, phys)
        case Assignment(other, _) =>
          refuse("UPDATE",
            s"only top-level columns can be assigned (got $other)",
            "commitUpdateRows")
      }
      GraftUpdateCommand(t.tableRoot, t.physicalSchema, t.tableRetain,
        sets, condition.map(toSql("UPDATE", _, phys)),
        t.tableConflictRetries)

    case m @ MergeIntoTable(target, source, cond, matched, notMatched,
        notMatchedBySource, withSchemaEvolution)
        if m.resolved && graftTable(target).isDefined =>
      val (t, rel) = graftTable(target).get
      t.requireHeadForDml("MERGE INTO")
      val schema = t.logicalSchema
      val phys = (c: String) => t.physicalName(c)
      // X310: WITH SCHEMA EVOLUTION needs no work HERE — the analyzer's
      // ResolveMergeIntoSchemaEvolution already pushed the source-only
      // columns through GraftCatalog.alterTable (the table declares
      // AUTOMATIC_SCHEMA_EVOLUTION) and re-resolved this target, so
      // `schema` is the evolved one and the assignments below cover it.
      val tOut = AttributeSet(rel.output) ++ target.outputSet
      val sOut = source.outputSet
      // ON clause: a conjunction of target-col = source-col pairs —
      // the equi-key shape the broadcast upsert joins on
      val pairs = splitConjunctivePredicates(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tOut.contains(a) && sOut.contains(b) => (a, b)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if sOut.contains(a) && tOut.contains(b) => (b, a)
        case other =>
          refuse("MERGE INTO",
            s"ON must be a conjunction of target-column = " +
              s"source-column equalities (got $other)",
            "commitMergeRows")
      }
      // exactly the upsert shape: one unconditional UPDATE leg, one
      // unconditional INSERT leg (star-expanded or explicit)
      def assignsOf(act: MergeAction, leg: String)
          : Map[String, Expression] = act match {
        case UpdateAction(None, as, _) => asMap(as, leg)
        case InsertAction(None, as) => asMap(as, leg)
        case UpdateAction(Some(_), _, _) | InsertAction(Some(_), _) =>
          refuse("MERGE INTO",
            s"conditional WHEN clauses ($leg AND …) are not supported",
            "commitMergeRows on a pre-filtered source")
        case other =>
          refuse("MERGE INTO", s"unsupported $leg action $other",
            "commitMergeRows")
      }
      def asMap(as: Seq[Assignment], leg: String)
          : Map[String, Expression] = as.map {
        case Assignment(k: AttributeReference, v) =>
          if (!v.references.subsetOf(sOut))
            refuse("MERGE INTO",
              s"$leg assignment to ${k.name} references target " +
                "columns — the engine upsert replaces matched rows " +
                "with the source image",
              "commitMergeRows after joining the old image into the " +
                "source")
          k.name -> v
        case Assignment(other, _) =>
          refuse("MERGE INTO",
            s"only top-level columns can be assigned (got $other)",
            "commitMergeRows")
      }.toMap
      // X306: WHEN NOT MATCHED BY SOURCE — the snapshot-sync clause.
      // Target-only expressions (the analyzer already scopes them so;
      // re-checked here because a violation would silently re-resolve
      // against the engine scan), carried as SQL text like every other
      // DML expression, applied in the SAME atomic commit.
      def targetOnly(e: Expression, what: String): Expression = {
        if (!e.references.subsetOf(tOut))
          refuse("MERGE INTO",
            s"WHEN NOT MATCHED BY SOURCE $what references source " +
              "columns — no source row exists for these target rows",
            "commitMergeRows")
        e
      }
      val nmbs: Option[(String, Option[String], Seq[(String, String)])] =
        notMatchedBySource match {
          case Seq() => None
          case Seq(DeleteAction(cond)) =>
            Some(("delete",
              cond.map(c => toSql("MERGE INTO",
                targetOnly(c, "condition"), phys)), Seq.empty))
          case Seq(UpdateAction(cond, assigns, _)) =>
            val as = assigns.map {
              case Assignment(k: AttributeReference, v) =>
                phys(k.name) -> toSql("MERGE INTO",
                  targetOnly(v, s"assignment to ${k.name}"), phys)
              case Assignment(other, _) =>
                refuse("MERGE INTO",
                  s"only top-level columns can be assigned (got $other)",
                  "commitMergeRows")
            }
            Some(("update",
              cond.map(c => toSql("MERGE INTO",
                targetOnly(c, "condition"), phys)), as))
          case other if other.size > 1 => refuse("MERGE INTO",
            s"at most one WHEN NOT MATCHED BY SOURCE clause is " +
              s"supported (got ${other.size})", "commitMergeRows")
          case Seq(other) => refuse("MERGE INTO",
            s"unsupported WHEN NOT MATCHED BY SOURCE action $other " +
              "(supported: THEN DELETE, THEN UPDATE SET col = expr)",
            "commitMergeRows")
        }
      val uAssigns = matched match {
        case Seq(one) => assignsOf(one, "WHEN MATCHED")
        case _ => refuse("MERGE INTO",
          s"exactly one WHEN MATCHED THEN UPDATE clause is required " +
            s"(got ${matched.size})", "commitMergeRows")
      }
      val iAssigns = notMatched match {
        case Seq(one) => assignsOf(one, "WHEN NOT MATCHED")
        case _ => refuse("MERGE INTO",
          s"exactly one WHEN NOT MATCHED THEN INSERT clause is " +
            s"required (got ${notMatched.size})", "commitMergeRows")
      }
      val imageExprs = schema.fields.map { f =>
        val u = uAssigns.getOrElse(f.name, refuse("MERGE INTO",
          s"WHEN MATCHED must assign every table column (missing " +
            s"${f.name})", "commitMergeRows"))
        val i = iAssigns.getOrElse(f.name, refuse("MERGE INTO",
          s"WHEN NOT MATCHED must insert every table column (missing " +
            s"${f.name})", "commitMergeRows"))
        if (!u.semanticEquals(i))
          refuse("MERGE INTO",
            s"UPDATE and INSERT write different values for ${f.name} " +
              "— the engine upsert lands ONE source image per key",
            "commitMergeRows")
        if (u.exists(_.isInstanceOf[SubqueryExpression]))
          refuse("MERGE INTO", "subqueries in assignments",
            "commitMergeRows")
        f.name -> u
      }.toMap
      // each join key must be carried through unchanged, or the
      // name-keyed engine join would match different values than ON
      val keyCols = pairs.map { case (tk, sk) =>
        val img = imageExprs.getOrElse(tk.name, refuse("MERGE INTO",
          s"ON key ${tk.name} missing from the assignments",
          "commitMergeRows"))
        if (!img.semanticEquals(sk))
          refuse("MERGE INTO",
            s"the image written for key ${tk.name} is not the ON " +
              "clause's source key — the upsert would match one value " +
              "and store another", "commitMergeRows")
        t.physicalName(tk.name)
      }
      if (keyCols.isEmpty)
        refuse("MERGE INTO", "ON clause has no equi-key", "commitMergeRows")
      // the source, projected to the table's columns under its names —
      // an analyzed subtree the command materializes at run time
      val projected = Project(
        schema.fields.toIndexedSeq.map(f =>
          Alias(imageExprs(f.name), t.physicalName(f.name))()),
        source)
      GraftMergeCommand(t.tableRoot, t.physicalSchema, t.tableRetain,
        projected, keyCols, t.tableConflictRetries,
        nmbsKind = nmbs.map(_._1), nmbsCond = nmbs.flatMap(_._2),
        nmbsAssigns = nmbs.map(_._3).getOrElse(Seq.empty))
  }
}

/** `DELETE FROM cat.t WHERE …` → [[TableCommit.commitDeleteRows]]:
  * one merge-on-read DV commit (zero data bytes move). Cached reads of
  * the table, found by its name, are refreshed so they see the delete. */
case class GraftDeleteCommand(root: String, tableSchema: StructType,
    retain: Int, condition: org.apache.spark.sql.Column,
    conflictRetries: Int, tableName: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TableCommit.commitDeleteRows(spark, root, tableSchema, condition,
      retain = retain, conflictRetries = conflictRetries)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sharedState.cacheManager.recacheTableOrView(classic, tableName)
    Seq.empty
  }
}

/** `UPDATE cat.t SET … WHERE …` → [[TableCommit.commitUpdateRows]]:
  * one merge-on-read commit (victims DV-deleted beside their updated
  * images; lineage preserved when the table tracks row ids). */
case class GraftUpdateCommand(root: String, tableSchema: StructType,
    retain: Int, assignments: Seq[(String, String)],
    condition: Option[String], conflictRetries: Int = 0)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val pred = condition.map(expr).getOrElse(lit(true))
    TableCommit.commitUpdateRows(spark, root, tableSchema, pred,
      assignments.map { case (n, e) => n -> expr(e) },
      retain = retain, conflictRetries = conflictRetries,
      preserveRowIds = TableCommit.isTracked(root))
    Seq.empty
  }
}

/** `MERGE INTO cat.t USING s ON … …` →
  * [[TableCommit.commitMergeRows]]: the merge-on-read upsert
  * (broadcast under the key ceiling, shuffle join above it — the
  * engine routes). Duplicate source keys are refused (the ANSI
  * multiple-rows-matched error), with an early-terminating probe.
  * The source is persisted ONCE and both the probe and the merge read
  * that single materialization (ADVICE r14: a non-deterministic
  * source could otherwise pass the probe yet hand the merge different
  * rows — and a deterministic one paid its computation twice). */
case class GraftMergeCommand(root: String, tableSchema: StructType,
    retain: Int, source: LogicalPlan, keyCols: Seq[String],
    conflictRetries: Int = 0, nmbsKind: Option[String] = None,
    nmbsCond: Option[String] = None,
    nmbsAssigns: Seq[(String, String)] = Seq.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr}
    val src = Shim.ofRows(spark, source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // NULL join keys never match any target row under ANSI (they are
      // plain NOT MATCHED inserts) — exclude them from the
      // multiple-match probe (review finding). The probe is a full
      // aggregation, so it also materializes every source partition
      // BEFORE the merge branches on it.
      val dup = src
        .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
        .groupBy(keyCols.map(col): _*)
        .count().filter(col("count") > 1L).limit(1).count()
      if (dup > 0L) throw new IllegalStateException(
        s"MERGE INTO at $root: the source matches some target key with " +
          "more than one row — ANSI MERGE forbids multiple matches; " +
          "deduplicate the source (e.g. QUALIFY row_number() = 1) first")
      val nmbs = nmbsKind.map {
        case "delete" =>
          TableCommit.MergeNmbs.Delete(nmbsCond.map(expr))
        case "update" =>
          TableCommit.MergeNmbs.Update(
            nmbsAssigns.map { case (n, e) => n -> expr(e) },
            nmbsCond.map(expr))
      }
      TableCommit.commitMergeRows(spark, root, tableSchema, src, keyCols,
        retain = retain, conflictRetries = conflictRetries,
        preserveRowIds = TableCommit.isTracked(root),
        notMatchedBySource = nmbs)
    } finally src.unpersist(blocking = false)
    Seq.empty
  }
}
