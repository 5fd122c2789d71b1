package org.apache.spark.sql.graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.GraftLakeRelation
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.VersionedTable

/** A versioned lake table as a DataSourceV2 [[Table]] — what
  * [[GraftCatalog]] hands the engine, and the unit every catalog SQL
  * statement resolves against:
  *
  *  - `SELECT ... FROM graft.ns.t [VERSION AS OF v | TIMESTAMP AS OF ts]`
  *    — reads bridge through [[V1Scan]] to the SAME scan body the
  *    format-string door uses ([[GraftLakeRelation.scanRows]]), so
  *    deletion-vector overlays, column mapping, time travel, and the
  *    scale lever — file-stats data skipping BEFORE Spark lists the
  *    scan — all apply behind catalog SQL, and pushed predicates /
  *    pruned columns arrive via the V2 pushdown hooks.
  *  - `INSERT INTO` / `INSERT OVERWRITE` / CTAS — writes bridge through
  *    [[V1Write]] to the lake's commit protocol (append / overwrite /
  *    replaceWhere), so every SQL write is a versioned, constraint-
  *    checked, conflict-retried commit.
  *  - `DELETE FROM ... WHERE <translatable>` — [[SupportsDelete]]
  *    routes to the lake's file-granular copy-on-write delete: files
  *    whose stats can't hold a match are never rewritten. (Arbitrary
  *    predicates go through the injected DML rules instead —
  *    [[org.apache.spark.sql.graft.GraftDmlRules]].)
  *  - `TRUNCATE TABLE` — `deleteWhere(∅)` = delete everything, one
  *    metadata commit, history preserved.
  *
  * The V1 bridges are deliberate and Delta-shaped: `getBatch`-style
  * DataFrame scans reuse the lake's own reader verbatim; a native V2
  * `PartitionReader` would re-implement parquet + DV + mapping decode
  * outside Catalyst to reach the same semantics.
  */
class GraftTable(spark: SparkSession, val path: String,
                 val timeTravelVersion: Option[Int],
                 identName: String) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {
  private[graft] lazy val table = VersionedTable(spark, path)

  override def name(): String = identName
  // schema from the commit log alone (nullable, the file-read posture)
  // — building a read() DataFrame here would pay a directory listing
  // and snapshot resolution per catalog lookup just to discard it
  override lazy val schema: StructType =
    table.schemaAt(timeTravelVersion).asNullable
  override def properties(): util.Map[String, String] =
    (Map("location" -> path, "provider" -> "graft-lake") ++
      table.properties().toMap).asJava
  // PARTITIONED BY surfaces as identity transforms (SHOW CREATE /
  // DESCRIBE parity); Spark's write planning also reads this, which is
  // fine — the lake's own staging enforces the value-split layout
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    table.partitionColumns().map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray

  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
    TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
    TableCapability.OVERWRITE_DYNAMIC).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, path, timeTravelVersion, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(timeTravelVersion.isEmpty,
      s"graft-lake: cannot write to a time-travel snapshot of $identName")
    new GraftWriteBuilder(table)
  }

  // ---- DELETE FROM (translatable predicates; else the DML rule) -----
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftLakeRelation.translate(f).exists(_._2))
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.flatMap { f =>
      GraftLakeRelation.translate(f) match {
        case Some((c, true)) => Some(c)
        case _ => sys.error(s"graft-lake: cannot translate DELETE " +
          s"predicate $f exactly — use the graft.GraftExtensions DML " +
          "rule (full-expression DELETE) or VersionedTable.delete")
      }
    }.reduceOption(_ && _).getOrElse(lit(true))
    table.delete(pred)
    ()
  }

  override def toString: String = s"GraftTable[$identName @ $path" +
    timeTravelVersion.map(v => s" v$v").getOrElse("") + "]"
}

/** V2 pushdown front half of the catalog read: collects pushed filters
  * and the pruned column set, then bridges to the shared V1 scan body.
  * ALL filters are reported back as residuals (the lake's translation
  * is advisory — a superset predicate prunes files and pre-filters
  * rows; Spark re-applies the exact predicate on top), so an inexact
  * translation can never lose rows. */
class GraftScanBuilder(table: VersionedTable, path: String,
                       version: Option[Int], tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftLakeRelation.translate(f).nonEmpty)
    filters // every filter stays post-scan: pushdown is pure pruning
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // prune by top-level NAME only, and declare the table's own field
    // types back: the V1 scan reads whole columns, so echoing a
    // nested-pruned struct type here would promise a shape the rows
    // don't have. (Also drops metadata columns Spark may request.)
    val byName = tableSchema.fields.map(f => f.name -> f).toMap
    required = StructType(requiredSchema.fieldNames.flatMap(byName.get))
  }

  override def build(): Scan = {
    // an empty requested schema (e.g. COUNT(*)) scans zero-column rows,
    // exactly what the V1 relation's empty-projection path produces
    val cols = required.fieldNames
    val outSchema = required
    val fs = pushed
    new V1Scan {
      override def readSchema(): StructType = outSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = outSchema
          override def buildScan(): RDD[Row] =
            GraftLakeRelation.scanRows(table, version, cols, fs)
        }.asInstanceOf[T]
      override def description(): String =
        s"GraftLakeScan[$path, pushed=${fs.mkString(",")}]"
    }
  }
}

/** Catalog write half: INSERT INTO → versioned append, INSERT OVERWRITE
  * → full overwrite (truncate) or `replaceWhere` (static partition-
  * style filter overwrite), and — on a PARTITIONED lake table with
  * `spark.sql.sources.partitionOverwriteMode=dynamic` — dynamic
  * partition overwrite through [[VersionedTable.replacePartitions]]
  * (exactly the partitions present in the insert are replaced; every
  * other partition's files survive by identity). All through the
  * lake's conflict-retried commit protocol via the [[V1Write]]
  * bridge. */
class GraftWriteBuilder(table: VersionedTable)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private sealed trait Mode
  private case object AppendMode extends Mode
  private case object TruncateMode extends Mode
  private case object DynamicMode extends Mode
  private case class OverwriteMode(pred: org.apache.spark.sql.Column) extends Mode
  private var mode: Mode = AppendMode

  override def truncate(): WriteBuilder = { mode = TruncateMode; this }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(table.partitionColumns().nonEmpty, "graft-lake: dynamic " +
      "partition overwrite needs a PARTITIONED BY table")
    mode = DynamicMode; this
  }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val pred = filters.map { f =>
      GraftLakeRelation.translate(f) match {
        case Some((c, true)) => c
        case _ => sys.error(s"graft-lake: cannot translate INSERT " +
          s"OVERWRITE predicate $f exactly — rewrite the predicate or " +
          "use VersionedTable.replaceWhere")
      }
    }.reduceOption(_ && _)
    mode = pred.map(OverwriteMode.apply).getOrElse(TruncateMode)
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        // the mode captured at plan time decides the commit shape; the
        // exec's overwrite flag is redundant with it
        override def insert(data: org.apache.spark.sql.DataFrame,
                            overwrite: Boolean): Unit = mode match {
          case AppendMode        => table.commitAppend(data)
          case TruncateMode      => table.commitOverwrite(data)
          case OverwriteMode(p)  => table.replaceWhere(p, data)
          case DynamicMode       => table.replacePartitions(data); ()
        }
      }
  }
}
