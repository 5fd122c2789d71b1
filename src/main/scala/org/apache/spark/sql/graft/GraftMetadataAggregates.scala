package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.lake.FileStats

/** METADATA-ONLY aggregates over lake snapshots (r18) — Delta's
  * `OptimizeMetadataOnlyDeltaQuery` as an injected optimizer rule:
  *
  *   SELECT count(*), count(c), min(c), max(c) FROM lake_table
  *
  * answers from the commit log and the per-file stats sidecars — ZERO
  * data files scanned. At 100 TB a bare `count(*)` is otherwise a full
  * pass over every row of every file; the log already carries the live
  * row count on EVERY commit record (maintained exactly through
  * appends, CoW and MoR deletes, updates, merges), and the sidecars
  * carry per-column min / max / null counts per file.
  *
  * Exactness rules — the rule REWRITES only when the metadata answer is
  * provably the scan's answer, and silently declines otherwise:
  *  - the child chain must be the lake's native relation under pure
  *    column projections (any Filter / DV overlay / join breaks the
  *    shape and the rule never fires);
  *  - the snapshot must carry no deletion vectors (DV'd files' stats
  *    describe pre-delete rows);
  *  - `count(*)` needs only the commit record; `count(c)` / `min(c)` /
  *    `max(c)` additionally need stats for `c` in EVERY data file
  *    (a file that predates `c`'s schema evolution null-fills on scan
  *    and has no stats — null rows don't change min/max but DO change
  *    count(c), so both decline together, conservatively);
  *  - string min/max decline when any boundary could be TRUNCATED
  *    (length ≥ the collection cap): a truncated min is a lower bound,
  *    not the value;
  *  - numeric min/max compare as BigDecimal (the stats evaluator's own
  *    exact encoding) and materialize through
  *    [[FileStats.internalValue]] — NaN-poisoned files have no stats
  *    and decline the rewrite (correct: NaN would BE the max).
  *
  * Measured 7× over the full scan for `count(*)` on a 64-file fact, and
  * constant at any scale (SCALE.md "Join-driven pruning + metadata
  * aggregates, measured", r18).
  */
object GraftMetadataAggregates extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(Seq(), aggExprs, child, _) =>
      rewrite(agg, aggExprs, child).getOrElse(agg)
    case agg @ Aggregate(groupings, aggExprs, child, _)
        if groupings.forall(_.isInstanceOf[AttributeReference]) =>
      rewriteGrouped(agg,
        groupings.map(_.asInstanceOf[AttributeReference]), aggExprs, child)
        .getOrElse(agg)
  }

  /** Pick the winning numeric bound among per-file bound STRINGS by
    * BigDecimal order — with the -0.0 / 0.0 tie broken the way a real
    * scan's Min/Max would break it: BigDecimal says the two are equal,
    * but the scan's min returns -0.0 and its max returns 0.0 (IEEE
    * total order through Spark's Least/Greatest semantics), observable
    * through CAST AS STRING. On a compareTo tie, prefer the
    * "-"-prefixed representation for min and the unsigned one for max. */
  private def pickNumericBound(bounds: Seq[String], wantMin: Boolean): String =
    bounds.map(b => (new java.math.BigDecimal(b), b))
      .reduceLeft { (x, y) =>
        val c = x._1.compareTo(y._1)
        if (c == 0) {
          val xNeg = x._2.startsWith("-")
          val yNeg = y._2.startsWith("-")
          if (wantMin) (if (yNeg && !xNeg) y else x)
          else (if (xNeg && !yNeg) y else x)
        } else if ((wantMin && c < 0) || (!wantMin && c > 0)) x
        else y
      }._2

  /** Walk pure projections down to the lake's native relation,
    * accumulating the output-attribute → bottom-attribute-name map
    * (tracks renames through splice/mapped projections). None on any
    * other node. */
  private def unwrap(plan: LogicalPlan)
      : Option[(GraftFileIndex, Map[ExprId, String])] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, output, _, false /* isStreaming */, _) =>
      fs.location match {
        case idx: GraftFileIndex =>
          Some((idx, output.map(a => a.exprId -> a.name).toMap))
        case _ => None
      }
    case Project(projList, child) =>
      unwrap(child).flatMap { case (idx, names) =>
        val mapped = projList.map {
          case a: AttributeReference => names.get(a.exprId).map(a.exprId -> _)
          case al @ Alias(a: AttributeReference, _) =>
            names.get(a.exprId).map(al.exprId -> _)
          case _ => None
        }
        if (mapped.forall(_.isDefined)) Some((idx, mapped.flatten.toMap))
        else None
      }
    case _ => None
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val (idx, names) = unwrap(child) match {
      case Some(x) => x
      case None => return None
    }
    val table = idx.table
    val v = idx.pinnedVersion
    if (!table.dvFreeAt(v)) return None
    lazy val (files, stats) = table.snapshotStatsAt(v)

    def colName(e: Expression): Option[String] = e match {
      case a: AttributeReference => names.get(a.exprId)
      case _ => None
    }
    // stats for `name` in EVERY data file, or None
    def allStats(name: String): Option[Seq[FileStats.ColStats]] = {
      val per = files.map(f => stats.get(f).flatMap(_.get(name)))
      if (per.forall(_.isDefined)) Some(per.flatten) else None
    }

    def minMax(name: String, dt: DataType, wantMin: Boolean): Option[Any] =
      allStats(name).flatMap { cs =>
        val bounds = cs.flatMap(s => if (wantMin) s.min else s.max)
        if (bounds.isEmpty) Some(null) // every row null → SQL min/max = null
        else FileStats.statKind(dt) match {
          case Some("str") =>
            // decline on possible truncation (a truncated min is a lower
            // bound, not the value) and on any char in/above the
            // surrogate range — Java's UTF-16 ordering diverges from
            // Spark's UTF-8 binary ordering there, and this answer must
            // be EXACT, not conservative
            if (bounds.exists(b => b.length >= FileStats.StringStatMaxLen ||
                b.exists(_ >= 0xD800))) None
            else Some(UnsafeProjectionShim.utf8(
              if (wantMin) bounds.min else bounds.max))
          case Some("num") =>
            FileStats.internalValue(pickNumericBound(bounds, wantMin), dt)
          case _ => None
        }
      }

    val values = aggExprs.map {
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        fn match {
          case Count(Seq(Literal(x, _))) if x != null => Some(table.rowCountAt(v))
          case Count(Seq(a: AttributeReference)) =>
            colName(a).flatMap(n => allStats(n).map(cs =>
              cs.map(s => s.rows - s.nulls).sum))
          case Min(a: AttributeReference) =>
            colName(a).flatMap(n => minMax(n, a.dataType, wantMin = true))
          case Max(a: AttributeReference) =>
            colName(a).flatMap(n => minMax(n, a.dataType, wantMin = false))
          case _ => None
        }
      case _ => None
    }
    if (values.exists(_.isEmpty)) return None
    // unwrap the Some(null) ambiguity: Option.get of Some(null) is null,
    // which is a legitimate min/max of an all-null column
    val row = InternalRow.fromSeq(values.map(_.orNull))
    Some(LocalRelation(agg.output.map(_.asInstanceOf[Attribute]), Seq(row)))
  }

  /** GROUP BY over exactly the table's PARTITION columns — the
    * one-value-per-file layout makes the groups the files themselves:
    * `SELECT day, count(*) … GROUP BY day` (and `SELECT DISTINCT day`)
    * answer from the recovered per-file partition tuples plus the log's
    * per-file row counts / the sidecars' per-column stats — zero data
    * files scanned. Same exact-or-decline posture as the global rule. */
  private def rewriteGrouped(agg: Aggregate,
                             groupings: Seq[AttributeReference],
                             aggExprs: Seq[NamedExpression],
                             child: LogicalPlan): Option[LogicalPlan] = {
    val (idx, names) = unwrap(child) match {
      case Some(x) => x
      case None => return None
    }
    val table = idx.table
    val v = idx.pinnedVersion
    if (!table.dvFreeAt(v)) return None
    val pcols = table.partitionColumnsAt(v)
    if (pcols.isEmpty) return None
    // the grouping set must be EXACTLY the partition columns (any
    // order, no duplicates) — a coarser or finer grouping isn't
    // answerable from the one-value-per-file layout
    val groupNames = groupings.flatMap(a => names.get(a.exprId))
    if (groupNames.size != groupings.size ||
        groupNames.toSet != pcols.toSet ||
        groupNames.distinct.size != groupNames.size) return None
    val tuples = table.partitionTuplesInternal(Some(v)) match {
      case Some(t) => t
      case None => return None // unrecoverable tuple somewhere: decline
    }
    val (files, stats) = table.snapshotStatsAt(v)
    val meta = table.snapshotFileMeta(Some(v))
    // tuple rows are keyed in PCOL order; groupings may reorder
    val groupIdx = groupNames.map(pcols.indexOf)
    val byGroup: Map[InternalRow, Seq[String]] = files.groupBy(tuples(_))

    def colName(e: Expression): Option[String] = e match {
      case a: AttributeReference => names.get(a.exprId)
      case _ => None
    }
    def groupStats(fs: Seq[String], name: String)
        : Option[Seq[FileStats.ColStats]] = {
      val per = fs.map(f => stats.get(f).flatMap(_.get(name)))
      if (per.forall(_.isDefined)) Some(per.flatten) else None
    }
    def groupMinMax(fs: Seq[String], name: String, dt: DataType,
                    wantMin: Boolean): Option[Any] =
      groupStats(fs, name).flatMap { cs =>
        val bounds = cs.flatMap(s => if (wantMin) s.min else s.max)
        if (bounds.isEmpty) Some(null)
        else FileStats.statKind(dt) match {
          case Some("str") =>
            if (bounds.exists(b => b.length >= FileStats.StringStatMaxLen ||
                b.exists(_ >= 0xD800))) None
            else Some(UnsafeProjectionShim.utf8(
              if (wantMin) bounds.min else bounds.max))
          case Some("num") =>
            FileStats.internalValue(pickNumericBound(bounds, wantMin), dt)
          case _ => None
        }
      }

    val rows = byGroup.toSeq.map { case (tuple, fs) =>
      val values = aggExprs.map {
        case a: AttributeReference if groupings.exists(_.exprId == a.exprId) =>
          val gi = groupings.indexWhere(_.exprId == a.exprId)
          Some(tuple.get(groupIdx(gi) /* position in PCOL order */,
            groupings(gi).dataType))
        case al @ Alias(a: AttributeReference, _)
            if groupings.exists(_.exprId == a.exprId) =>
          val gi = groupings.indexWhere(_.exprId == a.exprId)
          Some(tuple.get(groupIdx(gi), a.dataType))
        case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
          fn match {
            case Count(Seq(Literal(x, _))) if x != null =>
              val per = fs.map(f => meta.get(f).map(_.rows).getOrElse(-1L))
              if (per.exists(_ < 0)) None else Some(per.sum)
            case Count(Seq(a: AttributeReference)) =>
              colName(a).flatMap(n => groupStats(fs, n).map(cs =>
                cs.map(s => s.rows - s.nulls).sum))
            case Min(a: AttributeReference) =>
              colName(a).flatMap(n =>
                groupMinMax(fs, n, a.dataType, wantMin = true))
            case Max(a: AttributeReference) =>
              colName(a).flatMap(n =>
                groupMinMax(fs, n, a.dataType, wantMin = false))
            case _ => None
          }
        case _ => None
      }
      if (values.exists(_.isEmpty)) return None
      InternalRow.fromSeq(values.map(_.orNull))
    }
    Some(LocalRelation(agg.output.map(_.asInstanceOf[Attribute]), rows))
  }
}

/** UTF8String shim kept out of the pattern-heavy rule body. */
private object UnsafeProjectionShim {
  def utf8(s: String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
}
