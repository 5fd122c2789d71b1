package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.lake.VersionedTable

/** BATCH read of a versioned lake table behind the format string — the
  * front door that makes the lake reachable from plain SQL:
  *
  * {{{
  *   spark.read.format("graft-lake")
  *     .option("versionAsOf", 7)            // or timestampAsOf
  *     .load(tableDir)
  *     .createOrReplaceTempView("t")        // → spark.sql("SELECT ... FROM t")
  *   // or catalog-registered:
  *   spark.sql(s"CREATE TABLE t USING graft-lake OPTIONS (path '$dir')")
  * }}}
  *
  * Deliberately a V1 `BaseRelation` + `PrunedFilteredScan`, the same
  * choice Delta's `DeltaDataSource` makes for its batch path: the
  * relation's scan is built FROM the lake's own reader
  * ([[VersionedTable.read]]), so deletion-vector overlays, column
  * mapping, time travel, and — the scale lever — file-stats data
  * skipping all apply behind the format string. A DataSourceV2
  * `PartitionReader` would have to re-implement parquet + DV + mapping
  * decode outside Catalyst to get the same semantics.
  *
  * Pushdown contract: Catalyst hands the WHERE clause down as
  * `sources.Filter`s; every translatable conjunct becomes a Column
  * filter on the snapshot read, whose file index drops provably-irrelevant
  * files BEFORE Spark lists the scan (min/max sidecar stats), and the full
  * filter is re-applied on top (V1 filters are advisory), so pruning is
  * pure optimization. Untranslatable shapes simply don't prune. At
  * 100 TB this is what turns `WHERE day = X` through a SQL view into a
  * one-file read instead of a table scan.
  */
class GraftLakeRelation(spark: SparkSession, val path: String,
                        val version: Option[Int])
    extends BaseRelation with PrunedFilteredScan {
  private val table = VersionedTable(spark, path)

  override def sqlContext: SQLContext = spark.sqlContext
  // commit-log schema only (nullable, the file-read posture): building
  // a read() plan here would pay a snapshot resolution per relation
  override val schema: StructType = table.schemaAt(version).asNullable

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] =
    GraftLakeRelation.scanRows(table, version, requiredColumns, filters)

  override def toString: String =
    s"GraftLakeRelation[$path${version.map(v => s"@v$v").getOrElse("")}]"
}

object GraftLakeRelation {
  /** Observable for tests and operators: data files the last scan of
    * each table path handed to Spark AFTER stats pruning (recorded by
    * [[GraftFileIndex.listFiles]], which every snapshot read plans
    * through) — the `numFiles`-style proof that a selective SQL
    * predicate reached the lake's skipping layer. */
  val lastScanFiles = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** The shared V1 scan body — used by this relation's
    * `PrunedFilteredScan` AND by the catalog table's `V1Scan` bridge
    * ([[catalog.GraftTable]]): the snapshot read filtered by the
    * translated predicate, so the one pruning decision
    * ([[GraftFileIndex.listFiles]]) serves both SQL doors and every
    * DataFrame read alike. */
  private[graft] def scanRows(table: VersionedTable,
                              version: Option[Int],
                              requiredColumns: Array[String],
                              filters: Array[Filter]): RDD[Row] = {
    val base = filters.flatMap(f => translate(f).map(_._1))
      .reduceOption(_ && _)
      .foldLeft(table.read(version))(_.filter(_))
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(col).toSeq: _*)
    projected.rdd
  }

  /** `sources.Filter` → lake predicate, as (column, exact). The
    * translated predicate is applied as a REAL row filter (the engine's
    * re-applied copy sits above it), so only SUPERSET translations are
    * safe: a weaker predicate keeps extra rows for the engine to drop;
    * a stricter one silently loses rows. Hence:
    *  - AND may keep whichever sides translate (a conjunct alone is a
    *    superset) but the result is then marked INEXACT;
    *  - OR needs both sides (a half-applied disjunction would be
    *    stricter); exactness is the conjunction of the sides';
    *  - NOT flips superset into subset, so it only translates an EXACT
    *    child — negating an inexact translation is how
    *    `Not(And(a, untranslatable))` would silently drop rows. */
  private[graft] def translate(f: Filter): Option[(Column, Boolean)] = f match {
    case AlwaysTrue()             => Some((lit(true), true))
    case AlwaysFalse()            => Some((lit(false), true))
    case EqualTo(a, v)            => Some((col(a) === lit(v), true))
    case EqualNullSafe(a, v)      => Some((col(a) <=> lit(v), true))
    case GreaterThan(a, v)        => Some((col(a) > lit(v), true))
    case GreaterThanOrEqual(a, v) => Some((col(a) >= lit(v), true))
    case LessThan(a, v)           => Some((col(a) < lit(v), true))
    case LessThanOrEqual(a, v)    => Some((col(a) <= lit(v), true))
    case In(a, vs)                => Some((col(a).isin(vs.toIndexedSeq: _*), true))
    case IsNull(a)                => Some((col(a).isNull, true))
    case IsNotNull(a)             => Some((col(a).isNotNull, true))
    case StringStartsWith(a, v)   => Some((col(a).startsWith(v), true))
    case StringEndsWith(a, v)     => Some((col(a).endsWith(v), true))
    case StringContains(a, v)     => Some((col(a).contains(v), true))
    case And(l, r) => (translate(l), translate(r)) match {
      case (Some((a, ae)), Some((b, be))) => Some((a && b, ae && be))
      case (Some((a, _)), None)           => Some((a, false))
      case (None, Some((b, _)))           => Some((b, false))
      case _                              => None
    }
    case Or(l, r) =>
      for { (a, ae) <- translate(l); (b, be) <- translate(r) }
        yield (a || b, ae && be)
    case Not(c) => translate(c) match {
      case Some((p, true)) => Some((!p, true))
      case _               => None
    }
    case _ => None
  }
}
