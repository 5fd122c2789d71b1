package org.apache.spark.sql.graft

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.lake.VersionedTable

/** The versioned snapshot as a Spark [[FileIndex]] — the NATIVE-scan
  * fast path of the SQL front door, Delta's own architecture
  * (`TahoeLogFileIndex` under a `HadoopFsRelation`):
  *
  * the commit log decides WHICH files exist (never a directory
  * listing's opinion), this index hands exactly those to Spark's file
  * source, and the scan that runs is the ordinary vectorized,
  * whole-stage-codegen'd parquet read with parquet-level predicate
  * pushdown and column pruning. The V1 row-bridge relation
  * ([[GraftLakeRelation]]) measured ~1.4× slower on scan-bound
  * aggregates purely from its InternalRow→Row→InternalRow hop; this
  * path removes the hop on the common case (no deletion vectors, no
  * column mapping — [[VersionedTable.isPlainParquetSnapshot]]). It
  * serves [[VersionedTable.read]] directly, and SQL-door reads through
  * the extensions' query-tree rewrite (GraftDmlRules) — NOT through
  * the V1 provider or the V2 catalog table, whose bridge relations
  * must stay in place so inserts route through the commit log (see
  * the companion's SAFETY note).
  *
  * Data skipping stays in front: `listFiles` routes the scan's data
  * filters through the lake's min/max sidecar stats
  * ([[VersionedTable.candidateFiles]]), so provably-irrelevant files
  * are dropped BEFORE Spark plans splits — at 100 TB the difference
  * between listing a few files and listing a table. Untranslatable
  * filter shapes skip pruning (never correctness: the scan re-applies
  * every filter). File statuses come from the COMMIT LOG's recorded
  * per-file sizes (r17) — zero filesystem calls at index construction;
  * a directory listing happens only for legacy pre-meta commits or
  * under the explicit `spark.graft.lake.verifyListing` integrity mode.
  */
class GraftFileIndex(spark: SparkSession, val table: VersionedTable,
                     path: String, version: Option[Int],
                     // physical→logical column names for COLUMN-MAPPED
                     // snapshots (r18): the relation's attributes carry
                     // physical (in-file) names, but the stats matcher
                     // resolves against the commit's logical schema —
                     // listFiles translates through this before pruning.
                     // Empty for unmapped tables.
                     private[graft] val toLogical: Map[String, String] = Map.empty)
    extends FileIndex {
  // PIN the snapshot version once: everything this index answers —
  // file list, statuses, stats pruning — must come from ONE version.
  // Re-resolving "latest" per call would let a commit landing between
  // construction and listFiles prune against a different file list
  // (crashing on a name the status map never saw, or silently dropping
  // an optimize's rewritten files).
  private[graft] val pinnedVersion: Int = version.orElse(table.latestVersion())
    .getOrElse(sys.error(s"graft-lake: no committed versions at $path"))
  private val snapshot: Seq[String] = table.snapshotDataFiles(Some(pinnedVersion))
  /** File statuses FROM THE LOG (r17): commit add actions record each
    * file's byte length, so the scan plans — split sizing, relation
    * `sizeInBytes` for AQE/broadcast — with ZERO directory listings.
    * At 100 TB (10⁵–10⁶ files on an object store) the old per-read
    * `fs.listStatus` of the whole table dir WAS the planning time, and
    * pruning couldn't shrink it (a 1-file pruned read still listed
    * everything). The listing survives only as (a) the fallback for
    * files added by pre-meta commits (legacy logs), and (b) an
    * explicit integrity-check mode (`spark.graft.lake.verifyListing`)
    * that also re-asserts every snapshot file exists on disk —
    * without it a vacuumed/corrupted file fails at scan time with the
    * reader's own missing-file error instead of here.
    * Synthetic statuses carry the ADD COMMIT's timestamp as
    * modificationTime (`FileMeta.mtime`, stamped from each add record's
    * own `ts`), so `_metadata.file_modification_time` on a log-planned
    * read reports when the file entered the table instead of epoch 0
    * (r17 advice). */
  private val statuses: Map[String, FileStatus] = {
    val root = new Path(path)
    val meta = table.snapshotFileMeta(Some(pinnedVersion))
    val verify = spark.conf.getOption("spark.graft.lake.verifyListing")
      .exists(_.trim.equalsIgnoreCase("true"))
    val fromLog = snapshot.flatMap(n => meta.get(n).map(m =>
      n -> new FileStatus(m.size, false, 1, 128L * 1024 * 1024,
        math.max(0L, m.mtime), new Path(root, n)))).toMap
    if (!verify && fromLog.size == snapshot.size) fromLog
    else {
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = snapshot.toSet
      val listed = fs.listStatus(root)
        .filter(st => names.contains(st.getPath.getName))
        .map(st => st.getPath.getName -> st).toMap
      // the log is the source of truth — a snapshot file missing from
      // the directory is corruption (or an unretained vacuum), not a
      // shrug
      snapshot.filterNot(listed.contains) match {
        case Seq() => ()
        case missing => sys.error(s"graft-lake: snapshot files missing on " +
          s"disk at $path: ${missing.take(3).mkString(", ")}" +
          (if (missing.size > 3) s" (+${missing.size - 3} more)" else ""))
      }
      listed
    }
  }

  /** Per-file partition-value tuples (r18): a PARTITIONED table's
    * one-value-per-file layout makes each file's tuple recoverable from
    * its min = max stats, and exposing them as a REAL `partitionSchema`
    * hands Spark's own partition machinery the lake's layout — Catalyst
    * statically prunes partition predicates, and DYNAMIC partition
    * pruning fires on star joins (a selective dim filter prunes fact
    * FILES at runtime, the thing a literal-only stats translator can
    * never do). Empty when the table is unpartitioned OR any file's
    * tuple is unrecoverable (lost sidecar, mixed file) — then the index
    * stays flat, which is never wrong, just less pruned. Measured 1.8×
    * over the flat index on a 64-partition star join (SCALE.md
    * "Join-driven pruning + metadata aggregates, measured", r18). */
  private val partTuples: Map[String, InternalRow] =
    if (table.partitionColumnsAt(pinnedVersion).isEmpty) Map.empty
    else table.partitionTuplesInternal(Some(pinnedVersion)).getOrElse(Map.empty)

  private val partFields: Seq[StructField] = {
    val schema = table.schemaAt(Some(pinnedVersion))
    if (partTuples.isEmpty) Nil
    else table.partitionColumnsAt(pinnedVersion)
      .flatMap(p => schema.find(_.name == p))
      .map(f => StructField(f.name, f.dataType, nullable = true))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(path))
  override def partitionSchema: StructType = StructType(partFields)
  override def sizeInBytes: Long = statuses.valuesIterator.map(_.getLen).sum
  override def inputFiles: Array[String] =
    snapshot.map(f => s"$path/$f").toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep =
      if (dataFilters.isEmpty) snapshot
      else Try {
        // resolved attrs → name references, which the stats matcher
        // resolves against the commit schema; any shape it can't
        // translate falls back to the full list (pruning is pure
        // optimization — the scan re-applies every filter)
        val pred = dataFilters.map(e => GraftColumnBridge.column(
          e.transform { case a: AttributeReference =>
            UnresolvedAttribute.quoted(toLogical.getOrElse(a.name, a.name)) }))
          .reduce(_ && _)
        table.candidateFiles(pred, Some(pinnedVersion))
      }.getOrElse(snapshot)
    val dirs =
      if (partFields.isEmpty)
        Seq(PartitionDirectory(InternalRow.empty,
          keep.map(statuses(_)).toArray))
      else {
        // one directory per partition-value tuple; STATIC partition
        // filters evaluate here (Spark's PruneFileSourcePartitions hands
        // them down), DYNAMIC ones are evaluated by FileSourceScanExec
        // itself against the directories this returns
        val grouped = keep.groupBy(partTuples(_)).toSeq.map {
          case (row, fs) => PartitionDirectory(row, fs.map(statuses(_)).toArray)
        }
        if (partitionFilters.isEmpty) grouped
        else {
          val bound = Predicate.create(
            partitionFilters.reduce(And).transform {
              case a: AttributeReference =>
                val i = partFields.indexWhere(_.name == a.name)
                require(i >= 0, s"partition filter references non-partition " +
                  s"column ${a.name}")
                BoundReference(i, partFields(i).dataType, nullable = true)
            }, Nil)
          grouped.filter(d => bound.eval(d.values))
        }
      }
    GraftLakeRelation.lastScanFiles.put(path,
      dirs.iterator.map(_.files.length).sum)
    dirs
  }

  override def toString: String =
    s"GraftFileIndex[$path@v$pinnedVersion, ${snapshot.size} files" +
      (if (partFields.isEmpty) "" else
        s", partitioned(${partFields.map(_.name).mkString(",")})") + "]"
}

object GraftFileIndex {
  /** The plain-snapshot NATIVE relation, or None when the snapshot
    * needs the featureful bridge. ONE atomic decision: the version is
    * resolved HERE and pinned through the plainness check, the schema,
    * and the index — checking "is it plain?" on latest and then
    * building on a re-resolved latest would let a concurrent MoR
    * delete's DV snapshot be scanned as plain parquet (deleted rows
    * resurrected).
    *
    * SAFETY: a HadoopFsRelation is insertable through Spark's generic
    * file-source path (`InsertIntoHadoopFsRelationCommand` writes —
    * and for overwrite DELETES — the directory with no commit), so
    * this relation must NEVER be what a writable table surface
    * resolves to. It backs [[VersionedTable.read]] (a DataFrame) and
    * the extensions' QUERY-TREE read rewrite only; the V1 provider and
    * the V2 catalog keep their bridge relations, whose inserts route
    * through the commit log or fail loudly. */
  def nativeRelationIfPlain(spark: SparkSession, table: VersionedTable,
                            path: String, version: Option[Int])
      : Option[org.apache.spark.sql.execution.datasources.HadoopFsRelation] = {
    val v = version.orElse(table.latestVersion()).getOrElse(sys.error(
      s"graft-lake: no committed versions at $path"))
    if (!table.isPlainParquetSnapshot(Some(v))) None
    else Some(nativeRelationAt(spark, table, path, v))
  }

  /** The native relation at an ALREADY-PINNED plain version —
    * [[VersionedTable.read]]'s entry (it resolved and checked the
    * commit itself). When the index recovered partition tuples, the
    * partition columns move from `dataSchema` to `partitionSchema`:
    * Spark fills their values from the directory metadata (the column
    * is never even READ from the files — they do store it, harmlessly)
    * and its partition-pruning machinery, static and dynamic, operates
    * on them. NOTE the relation's column order is then
    * dataSchema ++ partitionSchema; [[nativeRead]] restores the
    * logical order. */
  def nativeRelationAt(spark: SparkSession, table: VersionedTable,
                       path: String, version: Int)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val classicSpark =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new GraftFileIndex(spark, table, path, Some(version))
    val pset = index.partitionSchema.fieldNames.toSet
    // fully NULLABLE, whatever the DDL says: pre-evolution files lack
    // evolved columns (the reader null-fills them), and CoW rewrites
    // legitimately store nulls there — a NOT NULL read schema makes
    // the vectorized reader skip null tracking and return garbage
    // (0.0) or fail the file outright. File reads were always
    // nullable on the old mergeSchema path too.
    val full = table.schemaAt(Some(version)).asNullable
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema =
        if (pset.isEmpty) full
        else StructType(full.filterNot(f => pset.contains(f.name))),
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(classicSpark)
  }

  /** [[nativeRelationAt]] as a DataFrame — the plain-snapshot body of
    * [[VersionedTable.read]]. A partitioned relation surfaces columns
    * as dataSchema ++ partitionSchema; the projection restores the
    * commit's logical order (Catalyst collapses it when it's already
    * the identity). */
  def nativeRead(spark: SparkSession, table: VersionedTable,
                 path: String, version: Int)
      : org.apache.spark.sql.DataFrame = {
    val classicSpark =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = nativeRelationAt(spark, table, path, version)
    val df = org.apache.spark.sql.classic.Dataset.ofRows(classicSpark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        rel, isStreaming = false))
    if (rel.partitionSchema.isEmpty) df
    else df.select(table.schemaAt(Some(version)).fieldNames.toSeq
      .map(org.apache.spark.sql.functions.col): _*)
  }

  /** The COLUMN-MAPPED snapshot's native data side (r18): the same
    * log-planned, stats-pruned, vectorized [[GraftFileIndex]] scan the
    * plain path uses, but with the commit's PHYSICAL read schema (the
    * in-file column names renames left behind; dropped columns'
    * residual bytes excluded entirely) and the physical→logical name
    * map wired into the index so stats pruning still fires on the
    * translated predicate. Returns the PHYSICAL frame — the caller
    * ([[VersionedTable.read]]) aligns it to the logical schema and
    * applies the DV overlay when present. Before r18 a mapped snapshot
    * paid the ~1.4× V1 row-bridge scan tax on every SQL read, forever
    * after its first RENAME/DROP COLUMN. */
  def nativeMappedRead(spark: SparkSession, table: VersionedTable,
                       path: String, version: Int)
      : org.apache.spark.sql.DataFrame = {
    val classicSpark =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val phys = table.physicalReadSchemaAt(version)
    val toLogical = table.physicalMapAt(version).map(_.swap)
    val index = new GraftFileIndex(spark, table, path, Some(version), toLogical)
    val pset = index.partitionSchema.fieldNames.toSet
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema =
        if (pset.isEmpty) phys
        else StructType(phys.filterNot(f => pset.contains(f.name))),
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(classicSpark)
    val df = org.apache.spark.sql.classic.Dataset.ofRows(classicSpark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        rel, isStreaming = false))
    if (pset.isEmpty) df
    else df.select(phys.fieldNames.toSeq
      .map(org.apache.spark.sql.functions.col): _*)
  }

  /** An EXPLICIT file subset as a DataFrame with statuses taken from
    * the commit log's recorded meta (r17) — the internal reader under
    * every pruned/mutation-pre-scan/DV read ([[VersionedTable]]'s
    * `readFiles`). `spark.read.parquet(paths...)` would re-derive each
    * file's status through an InMemoryFileIndex — O(subset) driver
    * filesystem round-trips per read that the log already answers.
    * Never exposed bare in a writable position (every caller wraps it
    * in projections/joins; see the companion's SAFETY note). */
  def subsetRead(spark: SparkSession, path: String,
                 files: Seq[(String, graft.lake.VersionedTable.FileMeta)],
                 schema: StructType): org.apache.spark.sql.DataFrame = {
    val root = new Path(path)
    val statuses = files.map { case (n, m) =>
      new FileStatus(m.size, false, 1, 128L * 1024 * 1024,
        math.max(0L, m.mtime), new Path(root, n))
    }.toArray
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = Seq(root)
      override def partitionSchema: StructType = StructType(Nil)
      override def sizeInBytes: Long = statuses.map(_.getLen).sum
      override def inputFiles: Array[String] =
        statuses.map(_.getPath.toString)
      override def refresh(): Unit = ()
      override def listFiles(partitionFilters: Seq[Expression],
                             dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses))
      override def toString: String =
        s"GraftSubsetIndex[$path, ${statuses.length} files]"
    }
    val classicSpark =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema.asNullable,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(classicSpark)
    org.apache.spark.sql.classic.Dataset.ofRows(classicSpark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        rel, isStreaming = false))
  }
}
