package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.SQLExecution

/** `df.select(cols).distinct().collect()` without the shuffle: every
  * task evaluates `cols` over its partition of `df` and dedups, and the
  * driver merges the per-task sets. For the small distinct answers the
  * lake asks its planning probes for — the data files a merge touches,
  * the buckets a refresh touches — this drops the aggregation's
  * exchange, its extra stage and job, and the generated classes of a
  * two-phase aggregate (two whole-stage bodies and their key, buffer
  * and partitioning projections). `cols` run interpreted, after `df`'s
  * own plan, so the executed plan is `df`'s: an action that runs `df`
  * itself later (a write, say) reuses its generated classes. The driver
  * receives at most (distinct rows × tasks) rows, so callers keep it to
  * answers that are small by construction. Runs as one SQL execution,
  * so listeners and job labels see it like any other action.
  */
object DistinctCollect {
  def apply(df: DataFrame, cols: Column*): Seq[Row] = {
    val qe = df.queryExecution
    val selected = df.select(cols: _*)
    val exprs = selected.queryExecution.analyzed match {
      case p: Project =>
        BindReferences.bindReferences(p.projectList.map {
          case a: Alias => a.child
          case e => e
        }, qe.executedPlan.output)
      case other => sys.error(s"DistinctCollect: expected a projection, got ${other.nodeName}")
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(selected.schema)
    val rows = SQLExecution.withNewExecutionId(qe, Some("collectDistinct")) {
      qe.toRdd.mapPartitions(dedup(exprs, _)).collect()
    }
    rows.distinct.toSeq.map(r => toRow(r).asInstanceOf[Row])
  }

  private def dedup(exprs: Seq[Expression], it: Iterator[InternalRow]): Iterator[InternalRow] = {
    val proj = InterpretedUnsafeProjection.createProjection(exprs)
    val seen = new java.util.LinkedHashSet[InternalRow]()
    it.foreach { r =>
      val p = proj(r)
      if (!seen.contains(p)) seen.add(p.copy())
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala
  }
}
