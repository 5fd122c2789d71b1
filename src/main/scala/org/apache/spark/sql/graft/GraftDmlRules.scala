package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.catalog.GraftTable

import graft.lake.{Merge, VersionedTable}

/** SQL DML over catalog lake tables — the analyzer rule that routes
  * `UPDATE`, `MERGE INTO`, and (arbitrary-predicate) `DELETE FROM`
  * statements whose target is a [[catalog.GraftTable]] to the lake's
  * own file-granular DML primitives, exactly Delta's architecture
  * (DeltaAnalysis → UpdateCommand/MergeIntoCommand):
  *
  * {{{
  *   spark.sql("UPDATE graft.t SET status = 'gone' WHERE id < 10")
  *   spark.sql("""MERGE INTO graft.t USING updates s ON t.id = s.id
  *                WHEN MATCHED THEN UPDATE SET *
  *                WHEN NOT MATCHED THEN INSERT *""")
  * }}}
  *
  * Injected by [[graft.GraftExtensions]] (`injectResolutionRule`).
  * Spark's built-in path for these plans requires
  * `SupportsRowLevelOperations` and rewrites them as whole-group
  * scan-and-replace jobs; intercepting at resolution instead reuses
  * [[VersionedTable.update]]/[[VersionedTable.mergeConditional]], whose
  * stats-pruned pre-scans rewrite ONLY the files that can hold a match
  * — the 100-TB difference between "touch 3 files" and "rewrite the
  * table". Catalyst expressions cross into the lake API by stripping
  * resolution (exprIds) back to name references, which re-resolve
  * against the lake's own scan of the same table — for MERGE, against
  * the `t`/`s` aliases [[Merge.MergeClause]] frames define.
  */
case class GraftDmlRules(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftDmlRules._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val afterDml = plan.resolveOperators {
      case u @ UpdateTable(LakeTarget(t), assignments, condition)
          if u.resolved =>
        rejectTimeTravel(t, "UPDATE")
        GraftUpdateCommand(t.path, assignments.map(a =>
          (assignedName(a.key), unqualified(a.value))), condition.map(unqualified))
      case d @ DeleteFromTable(LakeTarget(t), condition) if d.resolved =>
        rejectTimeTravel(t, "DELETE")
        GraftDeleteCommand(t.path, unqualified(condition))
      case m: MergeIntoTable if m.resolved && isLake(m.targetTable) =>
        val t = LakeTarget.unapply(m.targetTable).get
        rejectTimeTravel(t, "MERGE INTO")
        require(!m.withSchemaEvolution,
          "graft-lake MERGE: WITH SCHEMA EVOLUTION is not supported")
        planMerge(t, m)
      // INSERT OVERWRITE under partitionOverwriteMode=dynamic: Spark
      // has no V1-write fallback for OverwritePartitionsDynamic, so —
      // like UPDATE/MERGE — the statement routes through the extensions
      // to the lake's own primitive (replacePartitions: swap exactly
      // the insert's partitions, neighbors survive by file identity)
      case o: OverwritePartitionsDynamic
          if o.resolved && isLake(o.table) =>
        val t = LakeTarget.unapply(o.table).get
        rejectTimeTravel(t, "INSERT OVERWRITE (dynamic)")
        GraftReplacePartitionsCommand(t.path, o.query)
    }
    // Native-read rewrite (DeltaAnalysis' shape): in a pure QUERY tree,
    // a lake read of a plain-parquet snapshot — through the V2 catalog
    // OR the V1 format-string/USING bridge — replans to a
    // HadoopFsRelation over the snapshot's pinned file list: vectorized
    // parquet + whole-stage codegen + the lake's stats skipping
    // (GraftFileIndex). Command trees (INSERT/CTAS/UPDATE/MERGE/DELETE)
    // are left alone, and not only because their resolution binds to
    // the bridge relations: a HadoopFsRelation in a WRITABLE position
    // is insertable through Spark's generic file-source path, which
    // bypasses (and for overwrite, deletes) the commit log — the
    // query-tree guard is the safety boundary. Guarded by SHAPE as well
    // as root type (r16 advice): an InsertIntoStatement is a
    // ParsedStatement (not a Command) and a multi-insert root is a
    // Union — on current Spark the built-in insert resolution converts
    // those targets before this rule sees them, but the guard must not
    // depend on analyzer rule ORDERING surviving a Spark upgrade. Any
    // unresolved-write shape anywhere in the tree ⇒ no rewrite this
    // pass (the rule re-runs to fixpoint once resolution turns the
    // tree into a Command or a pure query).
    val hasUnresolvedWriteShape = afterDml.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement => true
      case _: org.apache.spark.sql.catalyst.plans.logical.ParsedStatement => true
      case _ => false
    }
    if (afterDml.isInstanceOf[Command] || hasUnresolvedWriteShape) afterDml
    else afterDml.resolveOperators {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable =>
          nativeReadPlan(t.table, t.path, t.timeTravelVersion, r.output)
            .getOrElse(r)
        case _ => r
      }
      case lr @ org.apache.spark.sql.execution.datasources.LogicalRelation(
          g: GraftLakeRelation, _, _, _, _) =>
        nativeReadPlan(graft.lake.VersionedTable(session, g.path), g.path,
            g.version, lr.output)
          .getOrElse(lr)
    }
  }

  /** The native replan of a pure lake READ, version pinned ONCE through
    * the feature check and the plan (the plainness-vs-build race rule —
    * a concurrent MoR delete must never be scanned as plain parquet):
    *  - plain flat snapshot → the bare HadoopFsRelation over the
    *    log-planned file index (vectorized + codegen + stats skipping);
    *  - every other snapshot — plain PARTITIONED (r18), DV overlaid,
    *    column-mapped, dropped-column — → `VersionedTable.read`'s plan
    *    spliced in: the same relation under the DV overlay and the
    *    logical-order projection (real partition attributes
    *    underneath, so Catalyst's static + dynamic partition pruning
    *    fire).
    * Every splice keeps the replaced node's attribute ids so
    * references above keep resolving. */
  private def nativeReadPlan(table: VersionedTable, path: String,
                             version: Option[Int],
                             output: Seq[AttributeReference])
      : Option[LogicalPlan] = {
    val v = version.orElse(table.latestVersion()).getOrElse(sys.error(
      s"graft-lake: no committed versions at $path"))
    if (table.isPlainParquetSnapshot(Some(v))) {
      if (table.partitionColumnsAt(v).isEmpty)
        Some(nativeRelation(
          GraftFileIndex.nativeRelationAt(session, table, path, v), output))
      else
        // partitioned plain snapshot: the native relation's column order
        // is dataSchema ++ partitionSchema, so splice the lake's
        // logical-order read plan (relation + reorder projection) — the
        // partition columns stay REAL partition attributes underneath,
        // which is what lets Catalyst's dynamic partition pruning fire
        // on SQL star joins against the lake fact table
        Some(spliceLogicalOrder(table.read(Some(v)), output))
    } else {
      // EVERY featureful snapshot — DV overlay, column mapping, drop
      // tombstones, any combination — now has a native read plan
      // (vectorized GraftFileIndex data side + overlays; r17 covered
      // DV-only, r18 the mapped shapes), so the SQL door always
      // splices it. The V1 bridge relations remain only as the
      // WRITABLE table surfaces (inserts must route through the commit
      // log — see GraftFileIndex.nativeRelationAt's SAFETY note).
      Some(spliceLogicalOrder(table.read(Some(v)), output))
    }
  }

  /** Splice an engine-built DataFrame plan in place of a replaced
    * relation node: remap the plan's fresh attribute ids onto the
    * replaced node's — by POSITION (both sides are the commit's
    * logical schema in order). */
  private def spliceLogicalOrder(df: org.apache.spark.sql.DataFrame,
                                 output: Seq[AttributeReference]): LogicalPlan = {
    val plan = df.queryExecution.analyzed
    org.apache.spark.sql.catalyst.plans.logical.Project(
      plan.output.zip(output).map { case (na, oa) =>
        org.apache.spark.sql.catalyst.expressions.Alias(na, oa.name)(
          exprId = oa.exprId)
      }, plan)
  }

  private def nativeRelation(
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      output: Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference])
      : LogicalPlan =
    // keep the replaced node's output attribute ids — references above
    // the relation must keep resolving
    org.apache.spark.sql.execution.datasources.LogicalRelation(
      rel, output, None, isStreaming = false, None)

  private def isLake(plan: LogicalPlan): Boolean =
    LakeTarget.unapply(plan).nonEmpty

  private def rejectTimeTravel(t: GraftTable, op: String): Unit =
    require(t.timeTravelVersion.isEmpty,
      s"graft-lake: $op cannot target a time-travel snapshot of ${t.name()}")

  /** Compile a resolved MERGE INTO to the lake's clause grammar. The ON
    * clause must be a conjunction of `target.k = source.k` equalities
    * (the lake's merge is equi-key — file pruning hangs off key
    * stats); differing source names are bridged by projecting the
    * source key under the target's name. */
  private def planMerge(t: GraftTable, m: MergeIntoTable): GraftMergeCommand = {
    val targetSet = m.targetTable.outputSet
    val sourceSet = m.sourceTable.outputSet
    val keyPairs = splitConjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetSet.contains(a) && sourceSet.contains(b) => (a.name, b.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if targetSet.contains(a) && sourceSet.contains(b) => (a.name, b.name)
      case other => sys.error("graft-lake MERGE: the ON clause must be " +
        s"a conjunction of target.key = source.key equalities, got: " +
        s"${other.sql}. Use VersionedTable.mergeConditional for " +
        "non-equi merges.")
    }
    val clauses =
      m.matchedActions.map(matchedClause(_, targetSet, sourceSet)) ++
      m.notMatchedActions.map(insertClause(_, m, keyPairs, targetSet, sourceSet)) ++
      m.notMatchedBySourceActions.map(bySourceClause(_, targetSet, sourceSet))
    GraftMergeCommand(t.path, m.sourceTable, keyPairs, clauses)
  }

  private def matchedClause(a: MergeAction, tSet: AttributeSet,
                            sSet: AttributeSet): MergeClauseSpec = a match {
    case UpdateAction(cond, assigns, _) => MergeClauseSpec("matched-update",
      cond.map(sided(_, tSet, sSet)),
      assigns.map(x => (assignedName(x.key), sided(x.value, tSet, sSet))))
    case DeleteAction(cond) =>
      MergeClauseSpec("matched-delete", cond.map(sided(_, tSet, sSet)), Nil)
    case other => sys.error(
      s"graft-lake MERGE: unsupported WHEN MATCHED action $other")
  }

  /** WHEN NOT MATCHED THEN INSERT compiles to the lake's insert-the-
    * source-row clause, so the assignment list must be the identity
    * mapping over the target schema (`INSERT *`, or an explicit list
    * assigning each target column its same-named source column — join
    * keys may use the ON clause's source name). Anything else would
    * need per-clause insert projections the lake grammar doesn't
    * carry; fail with the Scala-API pointer. */
  private def insertClause(a: MergeAction, m: MergeIntoTable,
                           keyPairs: Seq[(String, String)],
                           tSet: AttributeSet,
                           sSet: AttributeSet): MergeClauseSpec = a match {
    case InsertAction(cond, assigns) =>
      val targetCols = m.targetTable.output.map(_.name)
      val assigned = assigns.map(x => (assignedName(x.key), stripCast(x.value)))
      val bad = assigned.collect {
        case (name, v: AttributeReference) if sSet.contains(v) &&
            v.name != name && !keyPairs.contains((name, v.name)) =>
          s"$name <- s.${v.name}"
        case (name, v) if !v.isInstanceOf[AttributeReference] =>
          s"$name <- ${v.sql}"
      }
      val missing = targetCols.filterNot(c => assigned.exists(_._1 == c))
      if (bad.nonEmpty || missing.nonEmpty) sys.error(
        "graft-lake MERGE: WHEN NOT MATCHED THEN INSERT must assign " +
          "every target column its same-named source column (INSERT *; " +
          "join keys may use the ON clause's source name). Unsupported: " +
          (bad ++ missing.map(c => s"$c <- (unassigned)")).mkString(", ") +
          ". Use VersionedTable.mergeConditional for custom insert " +
          "projections.")
      MergeClauseSpec("insert", cond.map(sourceOnly(_, sSet)), Nil)
    case other => sys.error(
      s"graft-lake MERGE: unsupported WHEN NOT MATCHED action $other")
  }

  private def bySourceClause(a: MergeAction, tSet: AttributeSet,
                             sSet: AttributeSet): MergeClauseSpec = a match {
    case DeleteAction(cond) => MergeClauseSpec("by-source-delete",
      cond.map(targetOnly(_, tSet)), Nil)
    case UpdateAction(cond, assigns, _) => MergeClauseSpec("by-source-update",
      cond.map(targetOnly(_, tSet)),
      assigns.map(x => (assignedName(x.key), targetOnly(x.value, tSet))))
    case other => sys.error(
      s"graft-lake MERGE: unsupported WHEN NOT MATCHED BY SOURCE " +
        s"action $other")
  }
}

object GraftDmlRules {
  /** The lake table beneath the DML target's aliases. */
  object LakeTarget {
    def unapply(plan: LogicalPlan): Option[GraftTable] = plan match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some(t)
        case _ => None
      }
      case SubqueryAlias(_, child) => unapply(child)
      case _ => None
    }
  }

  private[graft] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case x => Seq(x)
  }

  private[graft] def assignedName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.name
    case other => sys.error(
      s"graft-lake DML: cannot assign to ${other.sql} — nested fields " +
        "are not supported")
  }

  private[graft] def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case x => x
  }

  /** Resolved Catalyst expression → a Column of NAME references, which
    * re-resolves against the lake's own scan of the same table (the
    * exprIds of the SQL plan's attributes mean nothing there). */
  private[graft] def unqualified(e: Expression): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** Mixed-side expression → the `t`/`s`-qualified form the lake's
    * merge clause frames evaluate ([[Merge]]'s evaluation contract). */
  private[graft] def sided(e: Expression, tSet: AttributeSet,
                           sSet: AttributeSet): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference if tSet.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sSet.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    })

  private[graft] def sourceOnly(e: Expression, sSet: AttributeSet): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference if sSet.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    })

  private[graft] def targetOnly(e: Expression, tSet: AttributeSet): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference if tSet.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
    })
}

/** A lake merge clause carried from analysis to execution: kind tag +
  * pre-compiled Columns (name references only — safe to evaluate in the
  * command's own scan). */
case class MergeClauseSpec(kind: String, condition: Option[Column],
                           assignments: Seq[(String, Column)])

/** `UPDATE graft.t SET ... WHERE ...` → [[VersionedTable.update]]:
  * stats-pruned pre-scan, rewrite only files that can hold a match. */
case class GraftUpdateCommand(path: String,
                              assignments: Seq[(String, Column)],
                              condition: Option[Column])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val vt = VersionedTable(session, path)
    val schema = vt.schemaAt(None) // metadata-only; a read() plan here
                                   // would build (and discard) the scan
    val assigns = assignments.map { case (name, value) =>
      val field = schema.find(_.name == name).getOrElse(sys.error(
        s"graft-lake UPDATE: no column '$name' in $path"))
      name -> value.cast(field.dataType)
    }.toMap
    vt.update(condition.getOrElse(lit(true)), assigns)
    Seq.empty
  }
}

/** `INSERT OVERWRITE` on a partitioned lake table under
  * `spark.sql.sources.partitionOverwriteMode=dynamic` →
  * [[VersionedTable.replacePartitions]]: one versioned commit
  * replacing exactly the partitions present in the insert. The query
  * plan arrives OUTPUT-RESOLVED (the analyzer aligned it to the table
  * schema), so a positional rename to the table's column names is the
  * only projection needed. */
case class GraftReplacePartitionsCommand(path: String,
                                         queryPlan: LogicalPlan)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val classicSession =
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val vt = VersionedTable(session, path)
    val data0 =
      org.apache.spark.sql.classic.Dataset.ofRows(classicSession, queryPlan)
    val names = vt.schemaAt(None).fieldNames
    require(data0.columns.length == names.length,
      s"graft-lake dynamic overwrite: insert provides " +
        s"${data0.columns.length} columns, table has ${names.length}")
    val data = data0.toDF(names.toIndexedSeq: _*)
    vt.replacePartitions(data)
    Seq.empty
  }
}

/** `DELETE FROM graft.t WHERE <any expression>` →
  * [[VersionedTable.delete]] (copy-on-write). The translatable-filter
  * fast path ([[catalog.GraftTable.deleteWhere]]) covers extension-less
  * sessions; this rule covers every predicate shape. */
case class GraftDeleteCommand(path: String, condition: Column)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VersionedTable(session, path).delete(condition)
    Seq.empty
  }
}

/** `MERGE INTO graft.t USING src ON ...` →
  * [[VersionedTable.mergeConditional]] with the full WHEN grammar:
  * only files containing a matched key rewrite; a pure-insert merge
  * degenerates to an append. */
case class GraftMergeCommand(path: String, sourcePlan: LogicalPlan,
                             keyPairs: Seq[(String, String)],
                             clauses: Seq[MergeClauseSpec])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val classicSession =
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val source0 =
      org.apache.spark.sql.classic.Dataset.ofRows(classicSession, sourcePlan)
    // bridge differing ON names: project the source key under the
    // target's name so the equi-key join sees one name on both sides
    val source = keyPairs.foldLeft(source0) { case (df, (tName, sName)) =>
      if (tName == sName) df
      else if (df.columns.contains(tName)) sys.error(
        s"graft-lake MERGE: ON maps target '$tName' to source '$sName' " +
          s"but the source already has a different column '$tName'")
      else df.withColumn(tName, col(sName))
    }
    val vt = VersionedTable(session, path)
    val schema = vt.schemaAt(None)
    def cast(name: String, c: Column): Column = {
      val field = schema.find(_.name == name).getOrElse(sys.error(
        s"graft-lake MERGE: no column '$name' in $path"))
      c.cast(field.dataType)
    }
    val lakeClauses: Seq[Merge.MergeClause] = clauses.map { spec =>
      spec.kind match {
        case "matched-update" => Merge.MatchedUpdate(spec.condition,
          Some(spec.assignments.map { case (n, c) => n -> cast(n, c) }.toMap))
        case "matched-delete"   => Merge.MatchedDelete(spec.condition)
        case "insert"           => Merge.NotMatchedInsert(spec.condition)
        case "by-source-delete" => Merge.NotMatchedBySourceDelete(spec.condition)
        case "by-source-update" => Merge.NotMatchedBySourceUpdate(spec.condition,
          spec.assignments.map { case (n, c) => n -> cast(n, c) }.toMap)
      }
    }
    vt.mergeConditional(source, keyPairs.map(_._1), lakeClauses)
    Seq.empty
  }
}
