package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.GraftColumnBridge

import graft.lake.{FileStats, VersionedTable}

/** AUTOMATIC join-driven dynamic FILE pruning (r19) — the rule that
  * makes a PLAIN star join on an UNPARTITIONED lake fact read only the
  * stat-hit files, with no explicit `readForKeys` call:
  *
  *   SELECT ... FROM fact JOIN dim ON fact.k = dim.k WHERE dim.selective
  *
  * Spark's own dynamic partition pruning handles this only when `k` is
  * a partition column; Delta ships the non-partition case as "dynamic
  * file pruning". The V1 path can't deliver it through the FileIndex
  * (FileSourceStrategy strips subquery filters before listFiles — see
  * PLANS.md r18), so the engine rewrites the LOGICAL plan instead: the
  * fact-side scan subtree is replaced by [[GraftDynamicFileScan]], a
  * leaf that at EXECUTION time evaluates the dim side's join keys
  * (range-first, the r18 `scopeFilesForKeys` gear), prunes the
  * snapshot's file list through the per-file min/max sidecars, and runs
  * the ordinary native pruned read — parquet pushdown, column pruning
  * and data skipping all intact inside the nested scan. At 100 TB this
  * is the difference between scanning every fact file and scanning the
  * slice a selective dim filter actually touches, on a completely
  * unmodified user query.
  *
  * Cost posture (SCALE.md "Join-driven pruning + metadata aggregates,
  * measured", r18: a pruning gear that costs a shuffle per query — a
  * measured ~0.4 s fixed cost — LOSES to the plain scan on uncorrelated
  * layouts): the automatic path runs ONLY the range-first gear — one
  * tiny aggregate over the dim keys plus a driver-side stats fold. Its
  * worst case (nothing prunes) adds one small dim-side job; the exact
  * distributed stats join is left to explicit `readForKeys` callers.
  * The dim side executes once more than the join itself needs — the
  * same duplication Spark's own runtime bloom filters accept.
  *
  * Fires only when ALL of:
  *  - `spark.graft.lake.dfp.auto` (default true);
  *  - the fact side is the native log-planned relation
  *    ([[GraftFileIndex]]) under pure attribute Projects / deterministic
  *    subquery-free Filters, non-streaming, unmapped, DV-free;
  *  - the snapshot has ≥ `spark.graft.lake.dfp.minFiles` (default 8)
  *    data files — below that the bookkeeping outweighs any pruning;
  *  - at least one equi-key is a stats-eligible fact column that is
  *    NOT a partition column (partition keys belong to Spark's own
  *    DPP, which the r18 partitionSchema already feeds);
  *  - the join discards unmatched fact rows (Inner; LeftSemi with the
  *    fact on the left; the non-preserved side of an outer join);
  *  - the dim side carries a selective predicate (a non-IsNotNull
  *    Filter, an Aggregate, or a Limit) — pruning against an entire
  *    dimension's keyspace prunes nothing and still pays the aggregate.
  *
  * Correctness rests on the [[VersionedTable.readForKeys]] contract:
  * the pruned file set is a SUPERSET of the files holding any dim key,
  * and the join above still applies its own condition — so for every
  * fire-eligible join type the rewritten query is row-for-row the
  * original. Declines are silent and cost nothing.
  */
case class GraftAutoFilePruning(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = graft.GraftConf.boolean(session.conf,
      "spark.graft.lake.dfp.auto", default = true)
    if (!enabled) plan
    else plan.transformDown {
      case j: Join => rewrite(j).getOrElse(j)
    }
  }

  private def minFiles: Int =
    graft.GraftConf.int(session.conf, "spark.graft.lake.dfp.minFiles", 8, min = 0)

  /** The fact-side scan subtree: the native relation under attribute
    * Projects and benign Filters. `output` is the subtree's own output
    * (what the join consumes), `conditions` the captured filters to
    * re-apply inside the nested pruned read. */
  private case class FactSide(idx: GraftFileIndex,
                              relation: LogicalRelation,
                              conditions: Seq[Expression],
                              output: Seq[Attribute])

  private def unwrapFact(p: LogicalPlan): Option[FactSide] = p match {
    case r @ LogicalRelation(fs: HadoopFsRelation, out, _, false, _) =>
      fs.location match {
        case idx: GraftFileIndex => Some(FactSide(idx, r, Nil, out))
        case _ => None
      }
    case Filter(cond, child) if cond.deterministic &&
        !cond.exists(_.isInstanceOf[PlanExpression[_]]) =>
      unwrapFact(child).filter(f =>
        cond.references.subsetOf(f.relation.outputSet))
        .map(f => f.copy(conditions = cond +: f.conditions))
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
      unwrapFact(child).map(f =>
        f.copy(output = list.map(_.asInstanceOf[AttributeReference])))
    case _ => None
  }

  /** Does the dim side narrow its keyspace at all? Mirrors the spirit
    * of DPP's hasSelectivePredicate: a Filter beyond null-intolerance
    * bookkeeping, an Aggregate, a Limit, or an inner Join. */
  private def selective(p: LogicalPlan): Boolean = p.exists {
    case Filter(c, _) => splitConjunctivePredicates(c).exists {
      case _: IsNotNull => false
      case _ => true
    }
    case _: logical.Aggregate => true
    case _: logical.GlobalLimit => true
    case _: logical.LocalLimit => true
    case _: Join => true
    case _ => false
  }

  private def rewrite(j: Join): Option[Join] = {
    val cond = j.condition.getOrElse(return None)
    // (canPruneLeft, canPruneRight): the pruned side must contribute no
    // unmatched rows to the result
    val (tryLeft, tryRight) = j.joinType match {
      case Inner | Cross => (true, true)
      case LeftSemi      => (true, false)
      case LeftOuter     => (false, true)
      case RightOuter    => (true, false)
      case _             => return None
    }
    val pairs = splitConjunctivePredicates(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
      case EqualNullSafe(a: AttributeReference, b: AttributeReference) => (a, b)
    }
    if (pairs.isEmpty) return None

    def attempt(fact: LogicalPlan, dim: LogicalPlan): Option[LogicalPlan] = {
      val f = unwrapFact(fact).getOrElse(return None)
      if (!selective(dim)) return None
      // prune only the side at least as large as the other: the scope
      // step executes ONE AGGREGATE over the dim subtree, so wrapping
      // the small side of `dim JOIN fact` would pay a fact-sized scan
      // to save a dim-sized one — a guaranteed net loss
      if (fact.stats.sizeInBytes < dim.stats.sizeInBytes) return None
      // orient each pair fact→dim; key must be a direct relation column
      val oriented = pairs.flatMap { case (a, b) =>
        if (f.relation.outputSet.contains(a) && dim.outputSet.contains(b))
          Some((a, b))
        else if (f.relation.outputSet.contains(b) && dim.outputSet.contains(a))
          Some((b, a))
        else None
      }
      if (oriented.isEmpty) return None
      val table = f.idx.table
      val v = f.idx.pinnedVersion
      if (f.idx.toLogical.nonEmpty) return None  // column-mapped: explicit readForKeys covers
      if (!table.dvFreeAt(v)) return None
      val pcols = table.partitionColumnsAt(v).toSet
      // stats-eligible, non-partition keys only (partition keys are
      // Spark DPP's job — and this rewrite would block it)
      if (oriented.exists { case (fk, _) => pcols.contains(fk.name) }) return None
      val usable = oriented.filter { case (fk, _) =>
        FileStats.statKind(fk.dataType).isDefined }
      if (usable.isEmpty) return None
      if (table.snapshotDataFiles(Some(v)).size < minFiles) return None
      val keysPlan = Project(usable.map(_._2), dim)
      val factStats = fact.stats
      Some(GraftDynamicFileScan(f.output, table, v,
        usable.map(_._1.name), keysPlan, f.conditions, session,
        factStats.sizeInBytes, factStats.rowCount))
    }

    val newLeft = if (tryLeft) attempt(j.left, j.right) else None
    newLeft match {
      case Some(l) => Some(j.copy(left = l))
      case None if tryRight =>
        attempt(j.right, j.left).map(r => j.copy(right = r))
      case None => None
    }
  }
}

/** Logical leaf standing in for a lake fact scan whose file list is
  * decided at EXECUTION time from the dim side's join keys. Carries
  * the original subtree's size estimates so join strategy selection
  * (broadcast thresholds, reorder) is unchanged. `keysPlan` is a
  * private copy of the dim subtree (the same duplication a
  * DynamicPruningSubquery carries) — invisible to outer transforms. */
case class GraftDynamicFileScan(
    output: Seq[Attribute],
    @transient table: VersionedTable,
    version: Int,
    factKeys: Seq[String],
    @transient keysPlan: LogicalPlan,
    conditions: Seq[Expression],
    @transient session: SparkSession,
    sizeHint: BigInt,
    rowHint: Option[BigInt]) extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = sizeHint, rowCount = rowHint)
  override def innerChildren: Seq[LogicalPlan] = Seq(keysPlan)
  override def simpleString(maxFields: Int): String =
    s"GraftDynamicFileScan [${factKeys.mkString(", ")}] v$version " +
      s"${table.tablePath}"
}

/** Plans [[GraftDynamicFileScan]] into its exec. */
case class GraftDynamicFileScanStrategy(session: SparkSession)
    extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: GraftDynamicFileScan =>
      GraftDynamicFileScanExec(s.output, s.table, s.version, s.factKeys,
        s.keysPlan, s.conditions, s.session) :: Nil
    case _ => Nil
  }
}

/** Executes the deferred fact scan: evaluates the dim keys (one small
  * aggregate job), scopes the snapshot's files through the stats
  * sidecars, then runs the native pruned read as a nested query —
  * vectorized parquet, pushdown, and data skipping all apply inside.
  * The nested query's own filters re-apply the captured fact-side
  * conditions, so parquet row-group pushdown is preserved. */
case class GraftDynamicFileScanExec(
    output: Seq[Attribute],
    @transient table: VersionedTable,
    version: Int,
    factKeys: Seq[String],
    @transient keysPlan: LogicalPlan,
    conditions: Seq[Expression],
    @transient graftSession: SparkSession) extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val keysDf = GraftColumnBridge.ofRows(graftSession, keysPlan)
      .toDF(factKeys: _*)
    val hit = table.scopeFilesForKeys(keysDf, factKeys, Some(version),
      exactGear = false)
    GraftDynamicFileScanExec.lastScope.set(
      (table.tablePath, hit.size, table.snapshotDataFiles(Some(version)).size))
    val base = table.readSnapshotFiles(hit, Some(version))
    // captured conditions reference the OUTER plan's exprIds; re-anchor
    // by NAME against the nested read (relation column names are unique)
    val filtered = conditions.foldLeft(base) { (df, c) =>
      val byName = c.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      }
      df.filter(GraftColumnBridge.column(byName))
    }
    val projected = filtered.select(output.map(a => col(a.name)): _*)
    projected.queryExecution.toRdd
  }
}

object GraftDynamicFileScanExec {
  /** Last (tablePath, hitFiles, totalFiles) scope decision — a
    * driver-side probe for specs and in-query asserts (the AQE metric
    * copies are undriven; see the project's plan-assert notes). */
  val lastScope = new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)]()
}
