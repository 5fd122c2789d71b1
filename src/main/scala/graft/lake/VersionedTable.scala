package graft.lake

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, array_repeat, coalesce, col, count, explode, lit, when, not}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.GraftConf
import LakeLog.Commit

/** A versioned Parquet table with a Delta-style transaction log —
  * the storage semantics the reference gets from delta-rs
  * (`/root/reference/main.py:391-475` writes Delta tables), rebuilt over
  * plain Parquet since no Delta jars ship in this environment.
  *
  * The log — commit records, checkpoints, the checkpoint pointer, the
  * vacuum horizon, snapshot resolution, the exclusive publish and the
  * stats and bloom sidecar files — is [[LakeLog]]. This class owns the
  * data files and every Spark plan: staging, the deletion-vector
  * overlay, reads, the change feed, DML and DDL.
  *
  * Protocol (mirrors the observable parts of Delta):
  *  - data files live flat in the table dir, named `v{N}-{nonce}-...` so
  *    no two commits ever collide — not even two writers racing for the
  *    SAME version number (the loser's staged files become vacuum-able
  *    orphans, never clobbering the winner's data);
  *  - a commit stages its data files first, then publishes its record
  *    only if version N doesn't exist yet — optimistic concurrency: the
  *    second of two racing writers fails with a conflict, it never
  *    silently clobbers. Blind appends auto-retry on conflict by
  *    rebasing their already-staged files onto the new head
  *    (metadata-only; see [[commitAppend]]); rewrites validate their
  *    FILE-LEVEL READ-SET against the racing commits and rebase when
  *    every racer touched disjoint files — only genuine overlap (or a
  *    table replacement / schema change) aborts, loudly naming both
  *    commits (see [[rebaseTarget]] — Delta's serializable conflict
  *    rules);
  *  - appends are schema-checked against the current snapshot
  *    (exact match, or supersets when `allowNewColumns` — Delta's
  *    mergeSchema);
  *  - `optimize` rewrites the data compacted WITHOUT changing content
  *    (a new version; time travel to pre-optimize versions still works);
  *  - `vacuum` deletes data files unreferenced by the retained versions
  *    (older snapshots stop being readable — Delta semantics) and
  *    records the retention horizon; time travel / restore / change
  *    feeds below it fail loudly with the boundary in the message
  *    instead of a raw missing-file scan error. It never deletes log
  *    files.
  *
  * Scale notes: snapshot reads hand Spark an explicit file list, so
  * partition pruning/pushdown work unchanged, and `optimize` +
  * `zorderLayout` compose (cluster, then commit). Cold resolution of the
  * latest snapshot is O(1) in table lifetime (see [[LakeLog]]).
  */
final class VersionedTable(spark: SparkSession, val tablePath: String,
                           val checkpointInterval: Int = 10) {
  private def fs: FileSystem =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table's transaction log ([[LakeLog]]): commit records,
    * checkpoints, snapshot resolution, publishing and sidecar files. */
  private[lake] lazy val log = new LakeLog(fs, tablePath, checkpointInterval,
    LakeLog.PublishSettings(
      spark.conf.getOption("spark.graft.lake.commitPublisher"),
      GraftConf.boolean(spark.conf,
        "spark.graft.lake.unsafeSingleWriterPublish", default = false)))

  /** All committed versions, ascending; empty for a fresh path. */
  def versions(): Seq[Int] = log.versions()

  /** Newest committed version — O(1) in table lifetime once the log has
    * a checkpoint pointer. */
  def latestVersion(): Option[Int] = log.latestVersion()

  private[lake] def readCommit(v: Int): Commit = log.readCommit(v)

  /** Per-file byte size and row count of the snapshot at `version`, as
    * recorded in the commit log's add actions (Delta's `size`/`stats`
    * fields): the metadata that plans a scan — file statuses, split
    * sizing, `sizeInBytes` — with ZERO directory listings. Files added
    * by pre-meta commits are absent from the map; rows may be -1
    * (size known, count not) on re-reference commits. */
  def snapshotFileMeta(version: Option[Int] = None): Map[String, VersionedTable.FileMeta] = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    log.resolveSnap(v).meta
  }

  // ---- data staging --------------------------------------------------

  /** Write `df`'s data files into the table dir under a `v{N}-{nonce}-`
    * prefix; returns the file names. Files land BEFORE the commit record
    * — a crash in between leaves orphans that vacuum collects, never a
    * corrupt snapshot (the Delta write protocol). The per-stage nonce
    * keeps names unique even when two writers race for the SAME version:
    * the commit rename arbitrates, and the loser's files are orphans,
    * never an overwrite of the winner's data.
    */
  /** Job-description scope (guide §1.5): labels every Spark job `f`
    * submits as `lake:<desc>` so ProfileQuery / the UI can attribute
    * the commit protocol's many small jobs. Thread-local; restores the
    * caller's description (Bench group labels survive). */
  private def labeled[T](desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"lake:$desc ${new Path(tablePath).getName}")
    try f finally sc.setJobDescription(prev)
  }

  private def stage(df: DataFrame, v: Int, prefix: String = "",
                    collectStats: Boolean = true,
                    pcols: Seq[String] = Nil): Seq[String] = labeled(s"stage v$v") {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = new Path(tablePath, s"_stage-v$v-$nonce")
    if (pcols.isEmpty) df.write.parquet(stageDir.toString)
    else {
      // PARTITIONED staging (r17): files must never mix partition
      // values — that per-file purity is what makes partition-predicate
      // pruning EXACT (min = max = value in the stats sidecar) and
      // replacePartitions a clean file swap. Spark's dynamic
      // partitioning does the splitting; the columns are DUPLICATED
      // under a reserved prefix so the real columns stay INSIDE the
      // data files (hive-style layout drops them from the file, which
      // would break every non-partition-aware read path), then the
      // value directories are flattened back to the table's flat
      // namespace below. The pre-shuffle clustering keeps file count
      // ≈ distinct values instead of values × input partitions.
      val dup = pcols.map(c => "__gp_" + c)
      val clustered = df.repartition(pcols.map(col): _*)
      pcols.zip(dup).foldLeft(clustered) { case (d, (c, dc)) =>
        d.withColumn(dc, col(c)) }
        .write.partitionBy(dup: _*).parquet(stageDir.toString)
    }
    // drop ZERO-ROW part files (empty shuffle partitions write them):
    // they carry no data but would ride the snapshot forever, and with
    // no min/max stats to prune on, every stats-scoped read and rewrite
    // keeps them conservatively. The footer pass that decides this also
    // records each survivor's row count in [[LakeLog.fileMetaIndex]], so
    // [[fileRows]] right after the commit doesn't re-open the same
    // footers; the staging listing already knows each part's byte length —
    // captured here so the commit record's add action carries
    // size+rows with ZERO extra filesystem calls (rename preserves
    // length; the .crc sidecars and _SUCCESS are filtered out)
    val parts0 =
      if (pcols.isEmpty)
        fs.listStatus(stageDir)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
      else {
        // partitioned staging lands leaves under value directories —
        // walk recursively, order by full path for determinism
        val it = fs.listFiles(stageDir, true)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) buf += st
        }
        buf.sortBy(_.getPath.toString).toArray
      }
    val conf = spark.sparkContext.hadoopConfiguration
    // the footer is kept alongside the row count: the stats sidecar is
    // derived from these SAME footers (no distributed re-read of data
    // the commit just wrote) whenever every column proves derivable —
    // see FileStats.collectFromFooters
    val counted = {
      import scala.collection.parallel.CollectionConverters._
      parts0.par.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (st.getPath, st.getLen, r.getRecordCount, r.getFooter)
        finally r.close()
      }.seq
    }
    val namedWithFooter = counted.filter(_._3 > 0).zipWithIndex.map {
      case ((p, len, cnt, footer), i) =>
        val name = f"${prefix}v$v%08d-$nonce-part-$i%05d.parquet"
        if (!fs.rename(p, new Path(tablePath, name)))
          sys.error(s"failed to move staged file $p")
        log.fileMetaIndex.put(name, VersionedTable.FileMeta(len, cnt))
        name -> footer
    }
    fs.delete(stageDir, true)
    val named = namedWithFooter.map(_._1)
    if (collectStats) {
      writeStats(named.toSeq, v, nonce,
        footers = namedWithFooter.toSeq, schema = Some(df.schema))
      writeBlooms(named.toSeq, v, nonce)
    }
    named.toSeq
  }

  // ---- deletion vectors (merge-on-read deletes) ------------------------
  //
  // A deletion vector is a tiny parquet file (`dv-v{N}-{nonce}-part-*`,
  // columns `file`/`pos`) naming deleted ROW POSITIONS inside immutable
  // data files — Delta's deletion-vector model on the same log. DV files
  // ride the ordinary snapshot file list (prefix-partitioned out by every
  // reader), so checkpoints, restore, vacuum referencing, and the
  // add/remove delta log all work on them unchanged. Every read overlays
  // them in [[dvOverlay]], keyed by (file NAME, `_metadata.row_index`); a
  // DV entry whose data file has since been rewritten is inert (the name
  // left the snapshot), which is what lets copy-on-write
  // rewrites ABSORB deletions — the rewrite reads through the overlay, so
  // its output files simply no longer contain the rows — without ever
  // editing a committed DV. `optimize` drops all DV files outright (it
  // rewrites every data file, leaving every DV entry inert).

  private def isDv(name: String): Boolean = name.startsWith("dv-")

  /** (deletion-vector files, data files) of a snapshot file list. */
  private def splitDv(files: Seq[String]): (Seq[String], Seq[String]) =
    files.partition(isDv)

  /** THE lake scan — one construction behind `read`, `readWhere`,
    * `readSnapshotFiles` and every mutation pre-scan and rewrite: the
    * commit's snapshot as the log-planned
    * [[org.apache.spark.sql.graft.GraftFileIndex]] relation
    * (`files = None`: stats and bloom pruning run inside its
    * `listFiles`) or an explicit data-file subset through the
    * log-answered subset index, then the snapshot's deletion-vector
    * overlay ([[dvOverlay]]), then [[alignToSchema]] to the logical
    * schema. DV entries for files outside a subset match no row, so
    * disjoint subsets union to the full snapshot. `keep` carries the
    * overlay's position columns (`_g_file`, `_g_pos`) past the
    * alignment for callers that mark or locate rows. */
  private def scan(c: Commit, files: Option[Seq[String]] = None,
                   keep: Seq[String] = Nil): DataFrame = {
    val base = files match {
      case None => org.apache.spark.sql.graft.GraftFileIndex.frame(spark,
        org.apache.spark.sql.graft.GraftFileIndex.nativeRelationAt(
          spark, this, tablePath, c.version))
      case Some(names) => readFiles(names, physReadSchema(c))
    }
    alignToSchema(dvOverlay(base, splitDv(c.files)._1, withPos = keep.nonEmpty),
      StructType.fromDDL(c.schemaDdl), keep, physMap(c))
  }

  /** The ONE deletion-vector overlay, over any file-source frame
    * exposing `_metadata`: rows marked in `dvs` (the DV list of
    * snapshot `v`) are dropped. Two gears, chosen by [[dvOversized]]
    * from the vectors' size: up to 4M marked positions the vectors
    * broadcast as a scan-local row-index filter
    * ([[org.apache.spark.sql.graft.DvNotDeleted]]); above it, the
    * distributed anti-join on (`_g_file`, `_g_pos`). `withPos` appends
    * `_g_file` (file name) and `_g_pos` (`_metadata.row_index`) to the
    * output under either gear; with no vectors this is the base scan
    * (plus those two columns when asked). */
  private def dvOverlay(base: DataFrame, dvs: Seq[String],
                        withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.substring_index
    // substring_index, not split+element_at: one substring per row
    // instead of an array allocation (measured 24% on 9.6M rows)
    def positioned(df: DataFrame): DataFrame = df.select(col("*"),
      substring_index(col("_metadata.file_path"), "/", -1).as("_g_file"),
      col("_metadata.row_index").as("_g_pos"))
    if (dvs.nonEmpty && dvOversized(dvs)) {
      // oversized vectors: the distributed anti-join (same semantics,
      // join-shaped cost; the DV side is deleted-rows-sized)
      val dv = readFiles(dvs, VersionedTable.DvSchema)
        .select(col("file").as("_g_file"), col("pos").as("_g_pos"))
      val live = positioned(base).join(dv, Seq("_g_file", "_g_pos"), "left_anti")
      if (withPos) live else live.drop("_g_file", "_g_pos")
    } else {
      // Delta's row-index-filter shape: the vectors broadcast as
      // file → sorted positions and apply as a SCAN-LOCAL predicate —
      // no join build side, no per-row string hashing,
      // scan+filter+consumer in one codegen span. Measured ~5× over
      // the anti-join on scan-bound aggregates (SCALE.md r17).
      val live = if (dvs.isEmpty) base
        else base.filter(org.apache.spark.sql.graft.DvNotDeleted.column(
          col("_metadata.file_path"), col("_metadata.row_index"), dvBroadcast(dvs)))
      if (withPos) positioned(live) else live
    }
  }

  /** The vectors `dvs` as one broadcast map file → sorted positions,
    * cached per vector list (a snapshot's list for the overlay, one
    * commit's list for the change feed) and built from the per-file
    * decoded vectors: a new version decodes only the vectors it added.
    * The broadcast is a reference in the generated code, so every
    * version's filter shares one compiled class. */
  private def dvBroadcast(dvs: Seq[String]): org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]] =
    dvBroadcasts.getOrElseUpdate(dvs, {
      if (dvBroadcasts.size > 64) dvBroadcasts.clear()
      import scala.collection.parallel.CollectionConverters._
      dvs.filterNot(dvDecoded.contains).par.foreach(dvVector)
      val parts = dvs.flatMap(dvVector).groupMap(_._1)(_._2)
      spark.sparkContext.broadcast(parts.map {
        case (f, Seq(ps)) => f -> ps
        case (f, pss) =>
          val all = pss.toArray.flatten
          java.util.Arrays.sort(all)
          f -> all
      })
    })

  /** True when the vectors `dvs` carry more than
    * [[VersionedTable.DvBroadcastMaxPositions]] marked positions (the
    * total as the commit log records it per vector file, the footers
    * for files it has no count for), or when Spark's
    * `autoBroadcastJoinThreshold` is -1 (no broadcasts). Above it
    * nothing decodes vectors on the driver: the overlay anti-joins,
    * [[liveRowCount]] counts with a job. */
  private def dvOversized(dvs: Seq[String]): Boolean =
    spark.sessionState.conf.autoBroadcastJoinThreshold < 0 ||
      fileRows(dvs) > VersionedTable.DvBroadcastMaxPositions

  /** [[dvBroadcast]]'s cache, keyed by vector list — committed
    * vectors are immutable, so an entry can never go stale. */
  @transient private lazy val dvBroadcasts =
    scala.collection.concurrent.TrieMap.empty[Seq[String],
      org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]]

  /** One committed deletion vector, decoded on the driver straight
    * from its parquet pages: data file → sorted marked positions. A
    * vector is deleted-rows-sized and immutable, so each is read once
    * per instance with no Spark job; a bounded memo (a miss re-reads
    * the file). */
  private def dvVector(dv: String): Map[String, Array[Long]] =
    dvDecoded.getOrElse(dv, {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(s"$tablePath/$dv"), spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val byFile = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val rows = io.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = rows.read()
            if (g.getFieldRepetitionCount("file") > 0 &&
                g.getFieldRepetitionCount("pos") > 0)
              byFile.getOrElseUpdate(g.getString("file", 0),
                new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong("pos", 0)
            i += 1
          }
          pages = r.readNextRowGroup()
        }
      } finally r.close()
      val decoded = byFile.iterator.map { case (f, b) =>
        val ps = b.result()
        java.util.Arrays.sort(ps)
        f -> ps
      }.toMap
      if (dvDecoded.size > 4096) dvDecoded.clear()
      dvDecoded.put(dv, decoded)
      decoded
    })

  @transient private lazy val dvDecoded =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, Array[Long]]]

  /** The PHYSICAL read schema of the commit's snapshot — the logical
    * fields under their in-file (mapped) names, all nullable. Handing
    * this to the parquet reader replaces the `mergeSchema` planning
    * pass, which opens EVERY file's footer on EVERY read — O(files)
    * remote round-trips per query at 100 TB — with zero footer reads:
    * the commit log's `schemaDdl` is authoritative (appends are
    * schema-checked against it), and files predating an evolution
    * simply null-fill the missing fields, exactly the semantics the
    * mergeSchema union produced. */
  private def physReadSchema(c: Commit): StructType =
    physReadSchema(c.schemaDdl, physMap(c))

  private def physReadSchema(schemaDdl: String, map: Map[String, String]): StructType =
    // fully NULLABLE, whatever the DDL says (the parquet relations
    // also relax nested fields): pre-evolution files lack evolved
    // columns (the reader null-fills them), and CoW rewrites
    // legitimately store nulls there — a NOT NULL read schema makes
    // the vectorized reader skip null tracking and return garbage
    // (0.0) or fail the file outright
    StructType(StructType.fromDDL(schemaDdl).map(f =>
      f.copy(name = map.getOrElse(f.name, f.name), nullable = true)))

  /** `df` (a physical-frame file read) projected to the snapshot's
    * LOGICAL schema: a mutation whose affected files are ALL
    * pre-evolution (mergeSchema then yields only their columns) must
    * still filter on, and write, the evolved schema — missing columns
    * null-backfill with the snapshot's type, exactly what a snapshot
    * read of those files would show. Under column mapping the lookup
    * goes through the logical→physical overlay (a renamed column reads
    * its stable physical name; a dropped column's residual physical
    * bytes are simply never selected). Returns `df` itself when the
    * projection would be the identity, and otherwise projects an
    * unrenamed column as a bare attribute, so a plain snapshot read
    * stays a `LogicalRelation` (under a pure-attribute reorder when
    * partitioned) — the shape the lake's optimizer rules unwrap. */
  private def alignToSchema(df: DataFrame, schema: StructType,
                            keep: Seq[String] = Nil,
                            colMap: Map[String, String] = Map.empty): DataFrame = {
    val have = df.columns.toSet
    val phys = schema.map(f => colMap.getOrElse(f.name, f.name))
    if (phys == schema.fieldNames.toSeq && df.columns.toSeq == phys ++ keep) df
    else df.select(schema.zip(phys).map { case (f, p) =>
      if (!have.contains(p)) lit(null).cast(f.dataType).as(f.name)
      else if (p == f.name) col(p)
      else col(p).as(f.name)
    } ++ keep.map(col): _*)
  }

  /** The write-side inverse of [[alignToSchema]]: a logical-frame
    * DataFrame renamed to the physical column names data files store.
    * Identity when no mapping is active. */
  private def toPhysical(df: DataFrame, schema: StructType,
                         colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df.select(schema.map(f => col(f.name)): _*)
    else df.select(schema.map(f =>
      col(f.name).as(colMap.getOrElse(f.name, f.name))): _*)

  private def physMap(c: Commit): Map[String, String] = c.colMap.toMap

  /** [[physReadSchema]] at a pinned version — the snapshot relation's
    * data schema ([[org.apache.spark.sql.graft.GraftFileIndex.nativeRelationAt]]). */
  def physicalReadSchemaAt(version: Int): StructType =
    physReadSchema(readCommit(version))

  /** The snapshot's LIVE row count at a pinned version — maintained
    * exactly on every commit (appends add, CoW and MoR deletes
    * subtract, updates carry): `SELECT count(*)` as one O(1) log-record
    * read, the metadata-aggregate rule's anchor. */
  def rowCountAt(version: Int): Long = readCommit(version).rows

  /** True when the snapshot at `version` carries NO deletion-vector
    * overlay (per-file stats and row counts then describe exactly the
    * live rows). */
  def dvFreeAt(version: Int): Boolean =
    splitDv(readCommit(version).files)._1.isEmpty

  /** (data files, per-file column stats) of the snapshot at a pinned
    * version — the metadata-aggregate rule's input. Stats are keyed by
    * PHYSICAL column name (the sidecars describe the files as written);
    * files without a sidecar entry are simply absent from the map. */
  def snapshotStatsAt(version: Int)
      : (Seq[String], Map[String, Map[String, FileStats.ColStats]]) = {
    val c = readCommit(version)
    (splitDv(c.files)._2, log.stats.all())
  }

  /** The logical→physical column-name overlay at a pinned version
    * (empty when no rename ever happened). */
  def physicalMapAt(version: Int): Map[String, String] =
    physMap(readCommit(version))

  // ---- per-file column statistics (data skipping) ---------------------
  //
  // Every commit writes a `v{N}-stats.jsonl` sidecar holding min/max/null
  // counts for the commit's NEW files (one aggregation pass over just that
  // data — O(commit), never O(table)). File names are globally unique and
  // file content is immutable, so a stats line stays valid for as long as
  // any later snapshot carries the file forward; readers assemble a
  // snapshot's stats by name lookup across the sidecars. The snapshot
  // relation's `listFiles` (every `read(...).filter`, [[readWhere]]) and
  // the mutation pre-scans use them to drop provably-irrelevant files
  // BEFORE Spark lists the scan — the metadata layer that turns a
  // selective predicate on a 100 TB table into a megabyte-scale read
  // (row-group pushdown still applies inside surviving files).

  private def writeStats(names: Seq[String], v: Int, nonce: String,
      footers: Seq[(String, org.apache.parquet.hadoop.metadata.ParquetMetadata)] = Nil,
      schema: Option[StructType] = None): Unit = try {
    if (names.isEmpty) return
    // Footer gear (r19): derive the sidecar from the staging pass's own
    // parquet footers — value-identical by construction (see
    // collectFromFooters; FooterStatsSpec pins the parity), zero extra
    // jobs. Any column it can't prove falls back to the distributed
    // aggregate, i.e. the exact pre-r19 behavior.
    val fromFooters =
      if (schema.isDefined && footers.size == names.size)
        FileStats.collectFromFooters(spark, schema.get, footers)
      else None
    val stats = fromFooters.getOrElse(
      FileStats.collect(spark, names.map(n => s"$tablePath/$n")))
    val lines = FileStats.sidecarLines(stats)
    if (lines.isEmpty) return
    log.stats.write(v, nonce, lines)
  } catch { case NonFatal(e) =>
    // Stats are an optimization: a failed collection must never fail the
    // commit — files without stats are simply never pruned.
    System.err.println(s"[lake] stats collection failed for v$v " +
      s"(skipping disabled for its files): ${e.getMessage}")
  }

  // ---- bloom sidecars (r19 — see BloomSidecars' scaladoc) --------------

  /** Bloom-indexed columns: the `bloom.columns` table property, else the
    * session conf — empty means the feature is off (the default). */
  private def bloomColumnsConfigured(): Seq[String] = {
    val raw = properties().find(_._1 == "bloom.columns").map(_._2)
      .orElse(spark.conf.getOption("spark.graft.lake.bloom.columns"))
    raw.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).distinct
  }

  private def writeBlooms(names: Seq[String], v: Int, nonce: String): Unit = {
    val logicalCols = bloomColumnsConfigured()
    if (logicalCols.isEmpty || names.isEmpty) return
    // the fpp — table property `bloom.fpp`, else the session key —
    // parses OUTSIDE the collection's catch: a malformed value is a
    // configuration error naming its key, not a failed optimization
    val fppKey = "spark.graft.lake.bloom.fpp"
    val fpp = properties().find(_._1 == "bloom.fpp")
      .orElse(spark.conf.getOption(fppKey).map(fppKey -> _))
      .fold(0.01) { case (key, raw) =>
        GraftConf.parseDouble(key, raw, min = Double.MinPositiveValue, max = 1.0 - 1e-12) }
    // sized for the largest file (staging recorded every row count):
    // a smaller one just gets a lower false-positive rate
    val maxItems = names.map(n => log.fileMetaIndex(n).rows).max
    if (properties().exists(_._1 == "bloom.maxItems"))
      System.err.println(s"[lake] table property bloom.maxItems is ignored " +
        s"at $tablePath: blooms are sized from the files' row counts")
    try {
      // staged frames carry PHYSICAL column names — translate the
      // configured logical names before collecting
      val phys = latestVersion().map(h => physMap(readCommit(h)))
        .getOrElse(Map.empty)
      val cols = logicalCols.map(c => phys.getOrElse(c, c))
      val lines = BloomSidecars.collect(spark,
        names.map(n => s"$tablePath/$n"), cols, maxItems, fpp)
      if (lines.nonEmpty)
        log.blooms.write(v, nonce, lines.sortBy(l => (l._1, l._2))
          .map { case (f, c, b64) => LogCodec.encodeBloomLine(f, c, b64) })
    } catch { case NonFatal(e) =>
      // blooms are an optimization with the stats posture: a failed
      // collection never fails the commit — the files are just never
      // bloom-pruned
      System.err.println(s"[lake] bloom collection failed for v$v " +
        s"(no bloom skipping for its files): ${e.getMessage}")
    }
  }

  /** The driver bloom gear's bound on total sidecar bytes; 0 runs the
    * distributed gear on any table. */
  @volatile private[lake] var bloomDriverMaxBytes = VersionedTable.BloomDriverMaxBytes

  private val bloomDeserCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.util.sketch.BloomFilter]

  /** Bloom layer under [[pruneByStats]]: drop `files` members PROVABLY
    * excluded by a top-level point conjunct against their per-file
    * blooms. Conservative everywhere blooms are absent. Two gears by
    * size — driver probe up to [[VersionedTable.BloomDriverMaxFiles]]
    * candidate files while the bloom sidecars (all of which it loads)
    * total at most [[bloomDriverMaxBytes]], a Spark job over the sidecar
    * lines otherwise (filters never aggregate on the driver at 10⁶
    * files). */
  private def bloomPrune(files: Seq[String],
                         resolved: org.apache.spark.sql.catalyst.expressions.Expression,
                         schema: StructType, inv: Map[String, String],
                         dead: Set[String]): Seq[String] = {
    if (files.isEmpty) return files
    val sidecars = log.blooms.paths()
    if (sidecars.isEmpty) return files
    val terms = BloomSidecars.pointTerms(resolved, schema,
      schema.fieldNames.toSet)
    if (terms.isEmpty) return files
    if (files.size <= VersionedTable.BloomDriverMaxFiles &&
        log.blooms.bytes() <= bloomDriverMaxBytes) {
      val blooms = log.blooms.all()
      files.filter { f =>
        blooms.get(f).forall { byPhys =>
          val logical = byPhys.collect {
            case (p, b) if !dead(p) => inv.getOrElse(p, p) -> b }
          terms.forall { t =>
            logical.get(t.col).forall { bytes =>
              val bf = bloomDeserCache.getOrElseUpdate((f, t.col),
                org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(bytes)))
              BloomSidecars.mightContain(bf, t)
            }
          }
        }
      }
    } else {
      val dropped = BloomSidecars.droppedFilesDistributed(spark,
        sidecars.map(_.toString), terms, inv, dead)
      files.filterNot(dropped)
    }
  }

  /** The user's Column resolved against the snapshot schema: analyzing a
    * dummy Filter turns the ColumnNode tree into catalyst expressions
    * (AttributeReferences + coercion casts), which is what
    * [[FileStats.mayMatch]] evaluates. */
  private def resolvedPredicate(predicate: org.apache.spark.sql.Column,
                                schema: StructType,
                                alias: String = null): org.apache.spark.sql.catalyst.expressions.Expression = {
    val base = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // alias: merge-clause conditions reference the target frame as
    // `t.<col>` (the Merge frame contract) — resolve them against an
    // identically-aliased dummy so by-source conditions stats-prune
    val dummy = if (alias == null) base else base.as(alias)
    dummy.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal(true))
  }

  /** `files` narrowed to those whose min/max stats MAY hold a matching
    * row (conservative: files without stats, or un-analyzable predicate
    * shapes, are always kept). Shared by the read AND mutation paths —
    * a selective DELETE/UPDATE/replaceWhere pre-scan reads only the
    * stats-surviving files, not the table. */
  private def pruneByStats(files: Seq[String], schemaDdl: String,
                           predicate: org.apache.spark.sql.Column,
                           colMap: Map[String, String] = Map.empty,
                           droppedPhys: Seq[String] = Nil,
                           alias: String = null): Seq[String] = {
    val stats = log.stats.all()
    val e = resolvedPredicate(predicate, StructType.fromDDL(schemaDdl), alias)
    // stats sidecars are keyed by the PHYSICAL (in-file) column names;
    // the predicate references logical names — remap before matching so
    // data skipping survives renames (ColumnMappingSpec pins this). A
    // DROPPED column's stats keys must be discarded first: after a
    // drop + re-add of the same logical name, the identity fallback
    // would bind the dead column's stats to the new logical column and
    // prune files whose (null-backfilled) rows actually match.
    val inv = colMap.map(_.swap)
    val dead = droppedPhys.toSet
    def logical(st: Map[String, FileStats.ColStats]) = {
      val live = if (dead.isEmpty) st else st.filterNot(kv => dead(kv._1))
      if (inv.isEmpty) live
      else live.map { case (p, cs) => inv.getOrElse(p, p) -> cs }
    }
    val byStats = files.filter(f =>
      stats.get(f).forall(st => FileStats.mayMatch(e, logical(st))))
    bloomPrune(byStats, e, StructType.fromDDL(schemaDdl), inv, dead)
  }

  /** True when the snapshot is readable as PLAIN PARQUET with the
    * commit's logical schema — no deletion-vector overlay to apply, no
    * column-mapping overlay or drop tombstones to realign. The SQL
    * front door's query-tree rewrite splices the bare snapshot relation
    * for such a flat snapshot and [[read]]'s frame otherwise.
    * Schema-evolution commits stay plain (the parquet reader null-fills
    * absent columns from the provided data schema). */
  def isPlainParquetSnapshot(version: Option[Int] = None): Boolean = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    val c = readCommit(v)
    splitDv(c.files)._1.isEmpty && c.colMap.isEmpty && c.droppedPhys.isEmpty
  }

  /** The commit's logical schema at `version` (latest by default). */
  def schemaAt(version: Option[Int] = None): StructType = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    StructType.fromDDL(readCommit(v).schemaDdl)
  }

  /** Data files of the snapshot that MAY hold rows matching
    * `predicate` per the min/max sidecar stats — the pruning decision
    * the snapshot relation's `listFiles` acts on under [[readWhere]],
    * also the format-string relation's file list. */
  def candidateFiles(predicate: org.apache.spark.sql.Column,
                     version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    val c = readCommit(v)
    val (_, data) = splitDv(c.files)
    pruneByStats(data, c.schemaDdl, predicate, physMap(c), c.droppedPhys)
  }

  /** Snapshot data files that MAY hold a row whose `keyCols` tuple
    * appears in `keys` — the DISTRIBUTED file-scope primitive (r17)
    * behind the streaming sink's Update mode: where a predicate built
    * from a collected key list caps out (the r16 sink refused batches
    * over 10k distinct keys), this joins the batch's key frame against
    * the per-file min/max stats AS A SPARK JOIN, so the scope
    * computation is O(files × key-columns) metadata on one side and
    * the (arbitrarily large) key set stays distributed on the other.
    *
    * Conservative by construction — the result is a SUPERSET of the
    * files containing matching tuples: files lacking stats for any
    * key column are always hit; a column's constraint is
    * `key ∈ [min, max]` (null keys hit files with null rows).
    * Comparisons run engine-exact per type: integral/temporal stats
    * compare as LONG, float/double as DOUBLE (toString round-trips),
    * decimals in the column's own decimal type, strings as strings —
    * the same encodings [[FileStats]] collected. */
  def filesHitByKeys(keys: DataFrame, keyCols: Seq[String],
                     version: Option[Int] = None): Seq[String] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{datediff, to_date, unix_micros}
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "filesHitByKeys needs key columns")
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    val c = readCommit(v)
    val (_, data) = splitDv(c.files)
    if (data.isEmpty) return Nil
    val schema = StructType.fromDDL(c.schemaDdl)
    val map = physMap(c)
    val dead = c.droppedPhys.toSet
    // key columns with a usable stats kind; each contributes one range
    // constraint — a key-eligible column with no kind constrains nothing
    val constrained = keyCols.flatMap { k =>
      schema.find(_.name == k)
        // NTZ keys compare through the UTC-gated micros encoding —
        // outside a UTC session the column contributes no constraint
        // (conservative: files stay hit)
        .filter(f => f.dataType != TimestampNTZType ||
          FileStats.utcSession(spark))
        .flatMap(f =>
          FileStats.statKind(f.dataType).map(_ => (k, f.dataType,
            map.getOrElse(k, k))))
    }
    if (constrained.isEmpty) return data
    val stats = log.stats.all()
    val (scoped, always) = data.partition { f =>
      stats.get(f).exists(st => constrained.forall { case (_, _, p) =>
        !dead(p) && st.contains(p) })
    }
    if (scoped.isEmpty) return always
    val rows = scoped.map { f =>
      val st = stats(f)
      Row.fromSeq(f +: constrained.flatMap { case (_, _, p) =>
        val s = st(p)
        // a stored string max LONGER than the collection cap is, by
        // construction, a TRUNCATED max (prefix + U+FFFF sentinel) —
        // an upper bound in UTF-16 order but NOT in the UTF-8 order
        // this join compares in (a supplementary char past the prefix
        // encodes F0.. > EF BF BF), so the upper bound must go vacuous
        val mxTrunc = s.kind == "str" &&
          s.max.exists(_.length > FileStats.StringStatMaxLen)
        Seq(s.min.orNull, s.max.orNull, s.nulls, mxTrunc)
      })
    }
    val statsSchema = StructType(
      StructField("_f", StringType, nullable = false) +:
        constrained.zipWithIndex.flatMap { case (_, i) => Seq(
          StructField(s"_mn_$i", StringType, nullable = true),
          StructField(s"_mx_$i", StringType, nullable = true),
          StructField(s"_nulls_$i", LongType, nullable = false),
          StructField(s"_mxtrunc_$i", BooleanType, nullable = false)) })
    val statsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, rows.size / 20000)), statsSchema)
    // per-column: the key-side value and the stat-side casts in an
    // ENGINE-EXACT shared comparison type
    def sides(k: String, dt: DataType, i: Int): (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column) = dt match {
      case TimestampType =>
        (unix_micros(col(s"p.$k")),
          col(s"_mn_$i").cast(LongType), col(s"_mx_$i").cast(LongType))
      case TimestampNTZType =>
        (unix_micros(col(s"p.$k").cast(TimestampType)), // UTC session (gated above)
          col(s"_mn_$i").cast(LongType), col(s"_mx_$i").cast(LongType))
      case DateType =>
        (datediff(col(s"p.$k"), to_date(lit("1970-01-01"))),
          col(s"_mn_$i").cast(LongType), col(s"_mx_$i").cast(LongType))
      case ByteType | ShortType | IntegerType | LongType =>
        (col(s"p.$k").cast(LongType),
          col(s"_mn_$i").cast(LongType), col(s"_mx_$i").cast(LongType))
      case FloatType =>
        // compare IN FLOAT: widening the key to double (0.1f →
        // 0.10000000149…) while the stat string parses as the double
        // nearest "0.1" would let kv exceed mx for a file that holds
        // the key (certain on min=max single-value files) — a wrongly
        // EXCLUDED file, breaking the conservative-superset contract.
        // String→float round-trips Float.toString exactly, so casting
        // the stat side down keeps both sides in the collector's type.
        (col(s"p.$k"),
          col(s"_mn_$i").cast(FloatType), col(s"_mx_$i").cast(FloatType))
      case DoubleType =>
        (col(s"p.$k").cast(DoubleType),
          col(s"_mn_$i").cast(DoubleType), col(s"_mx_$i").cast(DoubleType))
      case d: DecimalType =>
        (col(s"p.$k"), col(s"_mn_$i").cast(d), col(s"_mx_$i").cast(d))
      case _ =>
        (col(s"p.$k"), col(s"_mn_$i"), col(s"_mx_$i"))
    }
    val cond = constrained.zipWithIndex.map { case ((k, dt, _), i) =>
      val (kv, mn, mx) = sides(k, dt, i)
      (col(s"p.$k").isNull && col(s"_nulls_$i") > 0) ||
        (col(s"p.$k").isNotNull && mn.isNotNull && mx.isNotNull &&
          kv >= mn && (col(s"_mxtrunc_$i") || kv <= mx))
    }.reduce(_ && _)
    val hits = keys.as("p").join(statsDf, cond, "inner")
      .select("_f").distinct()
      .collect().map(_.getString(0)).toSeq
    always ++ hits
  }

  /** JOIN-DRIVEN dynamic FILE pruning as an explicit operator (r18 —
    * Delta's "dynamic file pruning", for UNPARTITIONED fact tables
    * where Spark's DPP has no partition column to hook): restrict the
    * snapshot read to the files whose min/max stats may hold any of
    * `keys`' tuples ([[filesHitByKeys]] — a distributed stats join, no
    * key-count cap), then read only those. The result is a SUPERSET of
    * the rows whose key tuple appears in `keys` — the caller joins on
    * those keys anyway, so for any equi-join on `keyCols`,
    * `readForKeys(k).join(k, keyCols)` ≡ `read().join(k, keyCols)`,
    * except the star query's fact scan reads the 1% of files the dim
    * side selects instead of all of them. Clustering the table by the
    * key (range-partitioned writes, OPTIMIZE Z-order) is what makes the
    * per-file key ranges tight enough to prune. */
  def readForKeys(keys: DataFrame, keyCols: Seq[String],
                  version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    readSnapshotFiles(
      scopeFilesForKeys(keys, keyCols, Some(v), exactGear = true), Some(v))
  }

  /** The file-scoping half of [[readForKeys]] — also the engine's
    * AUTOMATIC dynamic-file-pruning unit (r19,
    * [[org.apache.spark.sql.graft.GraftAutoFilePruning]]).
    *
    * RANGE-FIRST scoping: one tiny aggregate over the key frame
    * (per-column min/max + null presence), then a driver-side stats
    * prune on the range predicate — microseconds of metadata against
    * the stats map, no join. The range is a SUPERSET of the key set,
    * so correctness holds unconditionally; it is also exactly right
    * for the dominant real shape (key-correlated slices: recent
    * orders, an id backfill window). Only when the range fails to cut
    * the file set in half does the EXACT distributed stats join run
    * (sparse keys spread across the keyspace) — and then only on the
    * files the range kept, and only with `exactGear = true`: the
    * automatic rule passes false, capping its worst case at one small
    * aggregate rather than a per-query shuffle (SCALE.md "Join-driven
    * pruning + metadata aggregates, measured", r18: the always-join
    * gear's ~0.4 s fixed cost LOST to the plain scan on uncorrelated
    * layouts). */
  def scopeFilesForKeys(keys: DataFrame, keyCols: Seq[String],
                        version: Option[Int] = None,
                        exactGear: Boolean = true): Seq[String] = {
    require(keyCols.nonEmpty, "scopeFilesForKeys needs key columns")
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    val aggs = keyCols.flatMap(k => Seq(
      org.apache.spark.sql.functions.min(col(k)),
      org.apache.spark.sql.functions.max(col(k)),
      org.apache.spark.sql.functions.max(when(col(k).isNull, 1).otherwise(0))))
    val r = keys.agg(aggs.head, aggs.tail: _*).head()
    val allFiles = snapshotDataFiles(Some(v))
    // an EMPTY key frame leaves every aggregate null with no null
    // marker: the scoped read is empty by definition
    val emptyKeys = keyCols.indices.forall(i =>
      r.isNullAt(i * 3) && (r.isNullAt(i * 3 + 2) || r.getInt(i * 3 + 2) == 0))
    if (emptyKeys) return Nil
    val rangePred = keyCols.zipWithIndex.map { case (k, i) =>
      val (mn, mx, hasNull) = (r.get(i * 3), r.get(i * 3 + 1),
        !r.isNullAt(i * 3 + 2) && r.getInt(i * 3 + 2) == 1)
      if (mn == null) col(k).isNull // non-empty frame ⇒ this column is all-null
      else if (hasNull)
        (col(k) >= lit(mn) && col(k) <= lit(mx)) || col(k).isNull
      else col(k) >= lit(mn) && col(k) <= lit(mx)
    }.reduce(_ && _)
    val ranged = candidateFiles(rangePred, Some(v))
    if (ranged.size * 2 <= allFiles.size || ranged.size <= 1 || !exactGear) ranged
    else filesHitByKeys(keys, keyCols, Some(v)).toSet.intersect(ranged.toSet)
      .toSeq.sorted
  }

  /** METADATA-ONLY partition statistics (r18): one row per partition —
    * the partition-value columns plus `n_files`, `rows`, `bytes` —
    * answered ENTIRELY from the commit log and the stats sidecars:
    * `SELECT DISTINCT pcol` / per-partition counts on a 100 TB table
    * are a driver-side metadata fold, zero data files opened (the
    * one-value-per-file layout makes per-file tuples exact, and the
    * log's add actions carry per-file rows/bytes). Falls back to a
    * real scan-and-group ONLY when the metadata can't answer exactly
    * (a DV overlay hides deleted rows from per-file counts; a lost
    * stats sidecar; pre-meta legacy rows) — same result, data-shaped
    * cost. */
  def partitionStats(version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    val c = readCommit(v)
    require(c.pcols.nonEmpty,
      s"partitionStats: table at $tablePath has no partition columns")
    val schema = StructType.fromDDL(c.schemaDdl)
    val fields = c.pcols.map(p => schema.find(_.name == p).getOrElse(
      sys.error(s"partition column $p missing from schema")))
    val outSchema = StructType(
      fields.map(f => StructField(f.name, f.dataType, nullable = true)) ++ Seq(
        StructField("n_files", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("rows", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("bytes", org.apache.spark.sql.types.LongType, nullable = false)))
    val (dvs, data) = splitDv(c.files)
    val stats = log.stats.all()
    val meta = snapshotFileMeta(Some(v))
    // one EXTERNAL-value tuple per file, or a metadata miss
    def tupleOf(f: String): Option[(Seq[Any], Long, Long)] = for {
      st <- stats.get(f)
      m <- meta.get(f) if m.rows >= 0
      vals <- fields.foldLeft(Option(Vector.empty[Any])) { (acc, fd) =>
        acc.flatMap { vs =>
          st.get(fd.name).flatMap { cs =>
            (cs.min, cs.max) match {
              case (None, None) if cs.nulls == cs.rows => Some(vs :+ null)
              case (Some(mn), Some(mx)) if mn == mx && cs.nulls == 0 =>
                FileStats.externalValue(mn, fd.dataType).map(vs :+ _)
              case _ => None
            }
          }
        }
      }
    } yield (vals, m.rows, m.size)
    val tuples = if (dvs.nonEmpty) Nil else data.flatMap(tupleOf)
    if (dvs.isEmpty && tuples.size == data.size) {
      val rows = tuples.groupBy(_._1).toSeq.map { case (vals, fs) =>
        Row.fromSeq(vals ++ Seq(fs.size.toLong,
          fs.map(_._2).sum, fs.map(_._3).sum))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), outSchema)
    } else {
      // exactness fallback: group the real rows; per-partition file and
      // byte accounting isn't exactly attributable here (DVs hide
      // deleted rows inside files), so those report -1 = unknown
      read(Some(v)).groupBy(fields.map(f => col(f.name)): _*)
        .agg(count(lit(1)).as("rows"))
        .withColumn("n_files", lit(-1L))
        .withColumn("bytes", lit(-1L))
        .select(outSchema.fieldNames.map(col): _*)
    }
  }

  /** Snapshot read restricted by `predicate`: exactly
    * `read(version).filter(predicate)`. Stats and bloom data skipping
    * (Delta's) happen inside the snapshot relation — the filter pushes
    * down to the scan, and [[org.apache.spark.sql.graft.GraftFileIndex]]'s
    * `listFiles` drops files whose sidecars prove they hold no matching
    * row ([[candidateFiles]]) before Spark plans splits. The scan
    * re-applies the predicate, so pruning is pure optimization.
    */
  def readWhere(predicate: org.apache.spark.sql.Column,
                version: Option[Int] = None): DataFrame =
    read(version).filter(predicate)

  /** Data files (deletion vectors excluded) of the snapshot at
    * `version`, in a DETERMINISTIC order (sorted by name — names are
    * globally unique). This is the stable file index the streaming
    * source's CHUNKED initial snapshot points into: an offset that says
    * "delivered through file i" must resolve to the same files after a
    * restart, any number of process generations later. */
  def snapshotDataFiles(version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    version.foreach(log.checkVacuumHorizon(_, "time travel to"))
    splitDv(readCommit(v).files)._2.sorted
  }

  /** Snapshot rows restricted to `dataFiles` (a subset of
    * [[snapshotDataFiles]] at the same version), read through the FULL
    * snapshot's deletion-vector overlay and column mapping ([[scan]]),
    * so the union of disjoint chunks equals `read(version)` exactly.
    * The streaming source's bounded-bootstrap unit. */
  def readSnapshotFiles(dataFiles: Seq[String],
                        version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    version.foreach(log.checkVacuumHorizon(_, "time travel to"))
    scan(readCommit(v), Some(dataFiles))
  }

  /** Lowest version whose CHANGE FEED is still fully readable: reading
    * version v's changes touches files removed at v, which live in
    * snapshot v−1, so a feed can start no earlier than the vacuum
    * horizon + 1. Returns 0 when no stranding vacuum ever ran. */
  def changeFeedFloor(): Int = {
    val h = log.vacuumHorizon()
    if (h > 0) h + 1 else 0
  }

  /** Files that changed hands in commit `v` (adds + removes) — O(1)
    * log-record metadata, the streaming source's admission-control
    * unit for bounding a backlog's micro-batches. */
  def commitChangedFileCount(v: Int): Int = {
    val d = log.record(v)
    d.add.size + d.remove.size
  }

  /** Bytes that changed hands in commit `v` — added files' recorded
    * sizes plus removed files' sizes resolved from the prior snapshot's
    * meta. Pure log metadata (no filesystem probes); files whose size
    * the log never recorded (pre-meta commits) count 0, so the byte
    * budget built on this is exact for new-format logs and a lower
    * bound on legacy ones — admission control, never correctness. */
  def commitChangedBytes(v: Int): Long = {
    val d = log.record(v)
    val added = d.addMeta.valuesIterator.map(m => math.max(0L, m.size)).sum
    val removed =
      if (d.remove.isEmpty || d.full) 0L
      else {
        val prevMeta = log.resolveSnap(v - 1).meta
        d.remove.iterator.flatMap(prevMeta.get).map(m => math.max(0L, m.size)).sum
      }
    added + removed
  }

  private def nextVersion: Int = latestVersion().map(_ + 1).getOrElse(0)

  private def checkSchema(df: DataFrame, allowNewColumns: Boolean): Unit =
    latestVersion().foreach { v =>
      val current = StructType.fromDDL(readCommit(v).schemaDdl)
      val incoming = df.schema
      val curFields = current.map(f => f.name -> f.dataType).toMap
      val inFields = incoming.map(f => f.name -> f.dataType).toMap
      val missing = curFields.keySet -- inFields.keySet
      val changed = curFields.collect {
        case (n, t) if inFields.get(n).exists(_ != t) => n
      }
      val added = inFields.keySet -- curFields.keySet
      if (missing.nonEmpty || changed.nonEmpty)
        sys.error(s"schema mismatch: missing=$missing changedTypes=$changed")
      if (added.nonEmpty && !allowNewColumns)
        sys.error(s"schema evolution rejected (new columns $added); " +
          "pass allowNewColumns = true to evolve")
    }

  // ---- CHECK constraints (Delta table constraints) ---------------------

  /** The current constraint set (name → SQL expression). Carried in
    * full on every commit record, so this is one record read. */
  def constraints(): Seq[(String, String)] =
    latestVersion().map(v => log.record(v).constraints).getOrElse(Nil)

  /** Enforce `cs` on `df`: SQL CHECK semantics — a row violates only
    * when the expression evaluates to FALSE (null passes). ALL
    * constraints are checked in ONE aggregation pass; the first
    * violated one aborts loudly with its violation count, and nothing
    * commits. */
  private def checkConstraints(df: DataFrame, cs: Seq[(String, String)]): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{expr, sum => fsum}
    val aggs = cs.map { case (_, e) =>
      fsum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L)) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) sys.error(
        s"CHECK constraint '$n' ($e) violated by $bad incoming row(s) — " +
          s"nothing committed")
    }
  }

  /** Add a CHECK constraint as a metadata-only commit (files and rows
    * unchanged). EXISTING rows are validated first, Delta-style —
    * a constraint the current data already violates is rejected. The
    * commit aborts on ANY racing commit (maxRetries = 0): a racing
    * append validated against the old constraint set must not slide in
    * under the new one unchecked. */
  def addConstraint(name: String, exprSql: String): Int = {
    require(name.nonEmpty && exprSql.nonEmpty, "constraint needs name and expression")
    require(!name.startsWith(VersionedTable.NotNullPrefix),
      s"constraint names starting with '${VersionedTable.NotNullPrefix}' " +
        "are reserved — use setNotNull(column)")
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    if (c.constraints.exists(_._1 == name))
      sys.error(s"constraint '$name' already exists")
    checkConstraints(read(Some(v0)), Seq(name -> exprSql))
    // built from the HEAD's set (== base's, enforced by rebaseTarget's
    // head == base rule for constraint commits) — never from a stale
    // snapshot, so a racing constraint change can't be silently dropped
    commitRebasing("constraint", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      mkConstraints = headC => headC.constraints :+ (name -> exprSql),
      maxRetries = 0)
  }

  /** Drop a CHECK constraint (metadata-only commit). */
  def dropConstraint(name: String): Int = {
    require(!name.startsWith(VersionedTable.NotNullPrefix),
      s"'$name' is a NOT NULL constraint — use dropNotNull(column)")
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    if (!c.constraints.exists(_._1 == name))
      sys.error(s"constraint '$name' does not exist")
    commitRebasing("constraint", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      mkConstraints = headC => headC.constraints.filterNot(_._1 == name),
      maxRetries = 0)
  }

  // ---- NOT NULL column constraints (r19 — Delta parity beside CHECK) --

  /** Declare `colName` NOT NULL. Carried on commit records as a
    * reserved-named constraint (`__notnull__<col>` → `` `col` IS NOT
    * NULL ``), which buys the whole CHECK life-cycle for free and by
    * construction: validated against EXISTING rows before landing
    * (Delta's rule — a column already holding nulls refuses the
    * declaration), enforced in the SAME one-pass batch validation every
    * write already runs (a violating batch atomically rejects, nothing
    * committed), it survives overwrites like any constraint, blocks
    * rename/drop of the column through the existing
    * referencedByConstraint guard, and surfaces in DESCRIBE DETAIL.
    * Idempotent: re-declaring returns the current head. The SQL door is
    * `ALTER TABLE t ALTER COLUMN c SET NOT NULL` (V2
    * UpdateColumnNullability) and the `not_null` procedure column. */
  def setNotNull(colName: String): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val schema = StructType.fromDDL(c.schemaDdl)
    if (!schema.fieldNames.contains(colName))
      sys.error(s"setNotNull: no column '$colName'")
    val name = VersionedTable.NotNullPrefix + colName
    if (c.constraints.exists(_._1 == name)) return v0
    val exprSql = s"`$colName` IS NOT NULL"
    checkConstraints(read(Some(v0)), Seq(name -> exprSql))
    commitRebasing("constraint", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      mkConstraints = headC => headC.constraints :+ (name -> exprSql),
      maxRetries = 0)
  }

  /** Drop a NOT NULL declaration (metadata-only commit; no-op head
    * version if the column never carried one). */
  def dropNotNull(colName: String): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val name = VersionedTable.NotNullPrefix + colName
    if (!c.constraints.exists(_._1 == name)) return v0
    commitRebasing("constraint", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      mkConstraints = headC => headC.constraints.filterNot(_._1 == name),
      maxRetries = 0)
  }

  /** Columns currently declared NOT NULL. */
  def notNullColumns(): Seq[String] =
    constraints().collect {
      case (n, _) if n.startsWith(VersionedTable.NotNullPrefix) =>
        n.stripPrefix(VersionedTable.NotNullPrefix)
    }

  // ---- column mapping DDL (rename / drop without rewriting data) ------

  private def referencedByConstraint(c: Commit, colName: String, op: String): Unit = {
    val re = ("(?i)(^|[^A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(colName) + "($|[^A-Za-z0-9_])").r
    c.constraints.find(kv => re.findFirstIn(kv._2).isDefined).foreach {
      case (n, e) => sys.error(s"$op('$colName') rejected: CHECK constraint " +
        s"'$n' ($e) references it — drop the constraint first")
    }
  }

  /** Rename a column as a METADATA-ONLY commit (Delta's column-mapping
    * rename): no data file is read or rewritten — the commit
    * re-references the snapshot's files and re-binds the new logical
    * name to the column's stable PHYSICAL name. Time travel to
    * pre-rename versions shows the old name. Rejected while a CHECK
    * constraint references the column (its expression would silently
    * stop binding). Racing appends/rewrites rebase (a rename touches no
    * physical bytes); a racing schema or constraint change aborts.
    * At 100 TB this is the second-most-common schema change in a
    * long-lived lake, and the alternative is rewriting the table.
    */
  def renameColumn(oldName: String, newName: String): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val schema = StructType.fromDDL(c.schemaDdl)
    if (!schema.fieldNames.contains(oldName))
      sys.error(s"renameColumn: no column '$oldName'")
    if (schema.fieldNames.contains(newName))
      sys.error(s"renameColumn: column '$newName' already exists")
    referencedByConstraint(c, oldName, "renameColumn")
    // partition columns shape the FILE layout and the staging path
    // references them by name — mapping them would break both (Delta
    // restricts partition-column DDL the same way)
    if (c.pcols.contains(oldName)) sys.error(
      s"renameColumn('$oldName') rejected: it is a partition column — " +
        "partitioning is fixed at creation")
    val newSchema = StructType(schema.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val map = physMap(c)
    val phys = map.getOrElse(oldName, oldName)
    val newMap = ((map - oldName) + (newName -> phys))
      .filter { case (l, p) => l != p } // keep the overlay sparse
    commitRebasing("rename-column", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      schemaDdlOverride = newSchema.toDDL,
      colMapOverride = newMap.toSeq.sortBy(_._1))
  }

  /** Drop a column as a METADATA-ONLY commit: data files keep the
    * physical bytes (time travel to pre-drop versions still reads
    * them), but the logical schema loses the field and its physical
    * name is tombstoned in `droppedPhys` — a later evolution re-adding
    * the same logical name binds a FRESH physical id, so the residual
    * data can never resurface (ColumnMappingSpec pins this). Rejected
    * while a CHECK constraint references the column.
    */
  def dropColumn(name: String): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val schema = StructType.fromDDL(c.schemaDdl)
    if (!schema.fieldNames.contains(name))
      sys.error(s"dropColumn: no column '$name'")
    if (schema.size <= 1)
      sys.error("dropColumn: cannot drop the last column")
    referencedByConstraint(c, name, "dropColumn")
    if (c.pcols.contains(name)) sys.error(
      s"dropColumn('$name') rejected: it is a partition column — " +
        "partitioning is fixed at creation")
    val newSchema = StructType(schema.filterNot(_.name == name))
    val map = physMap(c)
    val phys = map.getOrElse(name, name)
    commitRebasing("drop-column", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      schemaDdlOverride = newSchema.toDDL,
      colMapOverride = (map - name).toSeq.sortBy(_._1),
      droppedPhysOverride = (c.droppedPhys :+ phys).distinct)
  }

  /** Add a nullable column as a METADATA-ONLY commit (`ALTER TABLE ...
    * ADD COLUMN`): no file is touched — existing files simply lack the
    * field and every read null-backfills it through snapshot-schema
    * alignment, exactly what an append-evolution read of pre-evolution
    * files already shows. Re-adding a previously DROPPED logical name
    * binds a FRESH physical id (`freshPhys` skips live and tombstoned
    * physicals), so the dropped column's residual bytes can never
    * resurface under the new column.
    */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val schema = StructType.fromDDL(c.schemaDdl)
    if (schema.fieldNames.contains(name))
      sys.error(s"addColumn: column '$name' already exists")
    val map = physMap(c)
    val used = schema.fieldNames.map(n => map.getOrElse(n, n)).toSet ++
      c.droppedPhys
    val phys = freshPhys(name, used, c.version + 1)
    val newMap = if (phys == name) map else map + (name -> phys)
    commitRebasing("add-column", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      schemaDdlOverride = schema.add(name, dataType, nullable = true).toDDL,
      colMapOverride = newMap.toSeq.sortBy(_._1))
  }

  // ---- public API ----------------------------------------------------

  /** Replace the table contents (a new version; history is preserved).
    * Constraints carry across an overwrite (the table DEFINITION
    * persists; only content is replaced) and are enforced on it. */
  def commitOverwrite(df: DataFrame): Int = overwriteWithTxn(df, "", -1L)

  /** Idempotent overwrite for incremental-refresh consumers: commits
    * `df` tagged with (`appId`, `batchId`) — the same setTransaction
    * ledger [[commitAppendIdempotent]] uses — and NO-OPS (None) when a
    * commit from `appId` with a batch id ≥ `batchId` already landed.
    * This is the exactly-once anchor for a state table maintained from
    * a change feed (batchId = the consumed source version): a crash
    * between the overwrite and the consumer's cursor advance replays
    * the batch, and the replay commits nothing instead of
    * double-applying the deltas. */
  def commitOverwriteIdempotent(df: DataFrame, appId: String,
                                batchId: Long): Option[Int] =
    fenced(appId, batchId)(Some(overwriteWithTxn(df, appId, batchId)))

  /** The setTransaction ledger fence every idempotent writer runs first:
    * None when `appId` already committed a batch id ≥ `batchId`, else
    * `write`'s result. */
  private def fenced(appId: String, batchId: Long)(write: => Option[Int]): Option[Int] = {
    require(appId.nonEmpty, "appId must be non-empty")
    if (lastCommittedBatch(appId).exists(_ >= batchId)) None else write
  }

  private def overwriteWithTxn(df: DataFrame, txnApp: String, txnVer: Long,
                               newPcols: Seq[String] = null): Int = {
    val head = latestVersion().map(readCommit)
    val prevCons = head.map(_.constraints).getOrElse(Nil)
    // partition columns are fixed at creation (newPcols only lands on a
    // pre-creation table or unchanged — commitOverwritePartitioned
    // enforces it); properties persist like constraints: definition,
    // not content
    val pcols = Option(newPcols).getOrElse(head.map(_.pcols).getOrElse(Nil))
    val props = head.map(_.props).getOrElse(Nil)
    pcols.foreach(c => require(df.columns.contains(c),
      s"overwrite of a partitioned table must include partition column '$c'"))
    checkConstraints(df, prevCons)
    val v = nextVersion
    val files = stage(df, v, pcols = pcols)
    // footer-exact row count — no second evaluation of the input
    log.writeCommit(Commit(v, "overwrite", files, df.schema.toDDL,
      fileRows(files), System.currentTimeMillis(),
      txnApp = txnApp, txnVer = txnVer,
      constraints = prevCons, pcols = pcols, props = props))
    v
  }

  /** Create (or replace) the table PARTITIONED BY `pcols` — the lake
    * path behind `CREATE TABLE ... PARTITIONED BY` (r17). Partition
    * columns are ordinary schema columns that additionally shape the
    * FILE LAYOUT: every data file holds exactly one partition-value
    * combination, so a partition predicate prunes to exactly the
    * partition's files through the ordinary stats layer (min = max =
    * value — categorical pruning with zero new metadata machinery),
    * and [[replacePartitions]] swaps whole partitions without touching
    * neighbors. Unlike hive layout the columns STAY in the data files,
    * so every existing read/mutation path works unchanged. The
    * partitioning is fixed at creation (Delta's rule): re-declaring
    * different columns on an existing table fails loudly. */
  def commitOverwritePartitioned(df: DataFrame, pcols: Seq[String]): Int = {
    require(pcols.nonEmpty, "commitOverwritePartitioned needs partition columns")
    pcols.foreach(c => require(df.columns.contains(c),
      s"partition column '$c' is not in the frame (${df.columns.mkString(", ")})"))
    val existing = partitionColumns()
    require(existing.isEmpty || existing == pcols,
      s"table at $tablePath is already partitioned by " +
        s"(${existing.mkString(", ")}) — partitioning is fixed at creation")
    overwriteWithTxn(df, "", -1L, newPcols = pcols)
  }

  /** CONVERT TO graft-lake (r19): adopt an existing FLAT parquet
    * directory IN PLACE — zero bytes copied or moved. Builds a v0
    * `convert` commit whose add actions reference the directory's
    * existing files (footer-exact sizes and row counts), backfills a
    * full stats sidecar (one aggregation pass, the same collection a
    * native commit runs on its new files), and from then on the
    * directory IS a versioned table: appends, DML, time travel,
    * data skipping, vacuum — vacuum OWNS the directory afterward
    * (an unreferenced root `.parquet` is an orphan to it, exactly as
    * for native tables).
    *
    * Exact-or-refuse (never guess a layout):
    *  - already a lake table → idempotent no-op IF v0 was a convert
    *    (returns the current head), loud error otherwise;
    *  - `k=v` subdirectories → refused here with a pointer to
    *    [[convertFromHiveParquet]] (see its doc for WHY hive layouts
    *    can't be reference-imported into this protocol);
    *  - any other data subdirectory, zero parquet files, or a file
    *    carrying the reserved `dv-` prefix → loud error.
    *
    * Heterogeneous file schemas resolve through one `mergeSchema`
    * planning pass at convert time (files missing a merged column
    * null-fill on read, the lake's own schema-evolution semantics);
    * conflicting types fail the convert loudly. */
  def convertFromParquet(): Int = {
    latestVersion() match {
      case Some(head) =>
        if (log.record(0).action == "convert") return head
        sys.error(s"convertFromParquet: $tablePath is already a " +
          s"graft-lake table (v0 action '${log.record(0).action}')")
      case None => ()
    }
    val root = new Path(tablePath)
    require(fs.exists(root), s"convertFromParquet: $tablePath does not exist")
    val entries = fs.listStatus(root)
    val dataDirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    if (dataDirs.exists(_.contains("=")))
      sys.error(s"convertFromParquet: $tablePath is hive-partitioned " +
        s"(${dataDirs.filter(_.contains("=")).take(3).mkString(", ")}) — " +
        "use convertFromHiveParquet, which recovers the partition " +
        "columns from the path layout")
    if (dataDirs.nonEmpty)
      sys.error(s"convertFromParquet: $tablePath contains subdirectories " +
        s"(${dataDirs.take(3).mkString(", ")}) — ambiguous layout, refusing")
    val names = entries.filter(st => !st.isDirectory)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    require(names.nonEmpty, s"convertFromParquet: no parquet files at $tablePath")
    names.filter(_.startsWith("dv-")) match {
      case Seq() => ()
      case bad => sys.error(s"convertFromParquet: ${bad.take(3).mkString(", ")} " +
        "carry the reserved 'dv-' deletion-vector prefix — refusing " +
        "ambiguous names")
    }
    // footer-exact size + rows per file (the same pass staging runs),
    // recorded in the add actions so every later read plans from the log
    val conf = spark.sparkContext.hadoopConfiguration
    val counted = {
      import scala.collection.parallel.CollectionConverters._
      names.par.map { n =>
        val p = new Path(root, n)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (n, fs.getFileStatus(p).getLen, r.getRecordCount) finally r.close()
      }.seq
    }
    val meta = counted.map { case (n, sz, rows) =>
      n -> VersionedTable.FileMeta(sz, rows) }.toMap
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(names.map(n => s"$tablePath/$n"): _*).schema
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // sidecar BEFORE the commit record (the stats write-ordering
    // protocol): a reader observing v0 always finds its stats
    writeStats(names, 0, nonce)
    log.writeCommit(Commit(0, "convert", names, schema.toDDL,
      counted.map(_._3).sum, System.currentTimeMillis()), metaHint = meta)
    0
  }

  /** Import a HIVE-partitioned parquet tree (`k=v/` directories) from
    * `sourceDir` into this table, recovering the partition columns
    * from the path layout — as a MATERIALIZING rewrite into the lake's
    * native partitioned layout, not a reference import, by design:
    * hive layout stores partition VALUES only in directory names,
    * while this protocol stores them INSIDE the data files
    * (one-value-per-file — the invariant behind exact stats pruning,
    * metadata-only partition aggregates, and `replacePartitions`' file
    * swaps). Referencing hive files in place would leave every
    * file-reading path — CoW rewrites, MoR overlays, the V1 bridge,
    * schema alignment — null-filling columns the files don't carry.
    * One rewrite at import time buys the native invariants forever;
    * the source tree is left untouched.
    *
    * Layout validation is Spark's own partition discovery (consistent
    * `k=v` keys per level, type inference, collision with data columns
    * all fail loudly there), plus the explicit guards here. */
  def convertFromHiveParquet(sourceDir: String): Int = {
    require(latestVersion().isEmpty,
      s"convertFromHiveParquet: $tablePath is already a graft-lake table")
    require(sourceDir != tablePath,
      "convertFromHiveParquet rewrites into the lake layout — the " +
        "target table dir must differ from the hive source dir " +
        "(in-place hive reference imports are refused; see the scaladoc)")
    val srcRoot = new Path(sourceDir)
    require(fs.exists(srcRoot), s"convertFromHiveParquet: $sourceDir does not exist")
    val top = fs.listStatus(srcRoot).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    require(top.nonEmpty && top.forall(_.contains("=")),
      s"convertFromHiveParquet: $sourceDir is not hive-partitioned " +
        s"(top-level dirs: ${top.take(3).mkString(", ")}) — for a flat " +
        "directory use convertFromParquet (true in-place)")
    val df = spark.read.parquet(sourceDir) // partition discovery on
    // partition columns = discovered schema minus ONE LEAF FILE's own
    // columns (a single file path triggers no discovery, so this works
    // for multi-level k1=v1/k2=v2 trees too)
    val leafIt = fs.listFiles(srcRoot, true)
    var leaf: Option[Path] = None
    while (leaf.isEmpty && leafIt.hasNext) {
      val st = leafIt.next()
      if (st.getPath.getName.endsWith(".parquet")) leaf = Some(st.getPath)
    }
    val fileSchema = spark.read.parquet(leaf.getOrElse(sys.error(
      s"convertFromHiveParquet: no parquet files under $sourceDir")).toString)
      .schema.fieldNames.toSet
    val pcols = df.schema.fieldNames.filterNot(fileSchema).toSeq
    require(pcols.nonEmpty, s"convertFromHiveParquet: no partition " +
      s"columns recovered from $sourceDir's layout")
    commitOverwritePartitioned(df, pcols)
  }

  /** The table's partition columns (empty when unpartitioned). */
  def partitionColumns(): Seq[String] =
    latestVersion().map(log.record(_).pcols).getOrElse(Nil)

  /** Partition columns AT a pinned version — what a snapshot-pinned
    * consumer (the file index) must use; partitioning is fixed at
    * creation, but the pin keeps the no-re-resolve discipline. */
  def partitionColumnsAt(version: Int): Seq[String] =
    log.record(version).pcols

  /** Per-file partition-value tuples of the snapshot at `version`, in
    * CATALYST INTERNAL form, recovered from the stats layer: the
    * partitioned file layout writes one partition-value combination per
    * file, so each partition column's per-file stats satisfy min = max
    * = the value (or all-null = the null partition). This is what lets
    * [[org.apache.spark.sql.graft.GraftFileIndex]] expose a REAL
    * `partitionSchema` to Spark — unlocking Catalyst's own static
    * partition pruning AND dynamic partition pruning (the star-join
    * runtime filter) with no engine-private rule.
    *
    * None when ANY data file's tuple is not recoverable (stats sidecar
    * lost, mixed null/value file, truncated over-long value): the index
    * then stays flat — never wrong, just not partition-pruned by
    * Spark's machinery (the lake's own stats pruning still applies). */
  def partitionTuplesInternal(version: Option[Int] = None)
      : Option[Map[String, org.apache.spark.sql.catalyst.InternalRow]] = {
    val v = version.orElse(latestVersion()).getOrElse(return None)
    val c = readCommit(v)
    if (c.pcols.isEmpty) return None
    val schema = StructType.fromDDL(c.schemaDdl)
    val fields = c.pcols.flatMap(p => schema.find(_.name == p))
    if (fields.size != c.pcols.size) return None
    // a table of ONLY partition columns would leave the scan an empty
    // data schema — keep the flat path for that degenerate shape
    if (fields.size == schema.size) return None
    val (_, data) = splitDv(c.files)
    val stats = log.stats.all()
    // pcols can never be renamed/dropped (DDL guards), so the stats key
    // is the logical name
    def tupleOf(f: String): Option[org.apache.spark.sql.catalyst.InternalRow] =
      stats.get(f).flatMap { st =>
        val vals = new Array[Any](fields.size)
        var i = 0
        var ok = true
        while (ok && i < fields.size) {
          val fd = fields(i)
          st.get(fd.name) match {
            case Some(cs) => (cs.min, cs.max) match {
              case (None, None) if cs.nulls == cs.rows => vals(i) = null
              case (Some(mn), Some(mx)) if mn == mx && cs.nulls == 0 =>
                FileStats.internalValue(mn, fd.dataType) match {
                  case Some(x) => vals(i) = x
                  case None    => ok = false
                }
              case _ => ok = false
            }
            case None => ok = false
          }
          i += 1
        }
        if (ok) Some(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals)))
        else None
      }
    val tuples = data.map(f => f -> tupleOf(f))
    if (tuples.exists(_._2.isEmpty)) None
    else Some(tuples.map { case (f, t) => f -> t.get }.toMap)
  }

  /** Table properties (TBLPROPERTIES) at the head — definition
    * metadata carried on every commit record. */
  def properties(): Seq[(String, String)] =
    latestVersion().map(log.record(_).props).getOrElse(Nil)

  /** Set (upsert) table properties as a metadata-only commit. Same
    * no-rebase rule as constraints: racing definition changes abort. */
  def setProperties(kv: Seq[(String, String)]): Int = {
    require(kv.nonEmpty, "setProperties needs at least one property")
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val merged = (c.props.filterNot(p => kv.exists(_._1 == p._1)) ++ kv)
      .sortBy(_._1)
    commitRebasing("properties", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      propsOverride = merged, maxRetries = 0)
  }

  /** Unset table properties by key (metadata-only commit; unknown keys
    * are ignored, ALTER TABLE UNSET semantics). */
  def unsetProperties(keys: Seq[String]): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    commitRebasing("properties", c, Set.empty,
      mkFiles = _.files, mkRows = _.rows,
      propsOverride = c.props.filterNot(p => keys.contains(p._1)),
      maxRetries = 0)
  }

  /** Dynamic partition overwrite (Delta's `replaceWhere` on partition
    * values / Spark's partitionOverwriteMode=dynamic, as ONE versioned
    * commit): replaces exactly the partitions PRESENT in `df`, leaves
    * every other partition's files untouched BY IDENTITY. Because data
    * files never mix partition values, the affected-file pre-scan
    * keeps nothing — the commit is a clean file swap bounded by the
    * touched partitions. Returns None when `df` is empty (no-op). */
  def replacePartitions(df: DataFrame): Option[Int] =
    replacePartitionsTxn(df, "", -1L)

  /** Idempotent [[replacePartitions]] keyed (`appId`, `batchId`) in the
    * streaming/refresh txn ledger. */
  def replacePartitionsIdempotent(df: DataFrame, appId: String,
                                  batchId: Long): Option[Int] =
    fenced(appId, batchId)(replacePartitionsTxn(df, appId, batchId))

  private def replacePartitionsTxn(df: DataFrame, txnApp: String,
                                   txnVer: Long): Option[Int] = {
    val pcols = partitionColumns()
    require(pcols.nonEmpty,
      s"replacePartitions: table at $tablePath has no partition columns " +
        "— create it with commitOverwritePartitioned / PARTITIONED BY")
    // the touched-partition list is O(partitions present in the batch)
    // driver metadata — the same dynamic-overwrite accounting Spark and
    // Delta do; a runaway batch fails loudly before building a predicate
    val tuples = df.select(pcols.map(col): _*).distinct().limit(10001).collect()
    if (tuples.isEmpty) return None
    require(tuples.length <= 10000,
      "replacePartitions: the batch spans over 10000 distinct partition " +
        "values — that is a table rewrite; use commitOverwrite")
    val scope = tuples.map { r =>
      pcols.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    replaceWhereTxn(scope, df, txnApp, txnVer)
  }

  /** Append rows (new version = previous files + new files).
    *
    * Optimistic-concurrency auto-retry: a blind append never logically
    * conflicts with another append or rewrite — its read-set is empty
    * and its new files are disjoint by the stage nonce — so on a
    * `concurrent commit conflict` the already-staged data files are
    * REUSED and only the commit record is rebuilt against the new head
    * (re-read log, re-check schema, re-derive prev file list), up to
    * `maxRetries` times. This is Delta's commit-retry shape: stage once,
    * rebase the O(1) log record, never re-write data — at 100 TB the
    * data write is the cost and the retry is metadata-only. Rewrite
    * commits (delete/update/merge/optimize) retry through the same
    * stage-once shape, but only after [[commitRewrite]] validates their
    * file-level read-set against every racing commit; genuine overlap
    * aborts loudly. Schema is re-checked per attempt, so an
    * append racing a schema evolution aborts with the schema error, not
    * a silent mixed commit.
    */
  def commitAppend(df: DataFrame, allowNewColumns: Boolean = false,
                   maxRetries: Int = 10): Int =
    appendWithTxn(df, allowNewColumns, maxRetries, "", -1L)
      .getOrElse(sys.error("unreachable: non-txn append never no-ops"))

  /** Idempotent append for streaming sinks: commits `df` tagged with
    * (`appId`, `batchId`) — Delta's `txn`/setTransaction action — and
    * NO-OPS (returns None) when a commit from `appId` with a batch id
    * ≥ `batchId` is already in the log. `foreachBatch` re-delivers
    * whole micro-batches on restart/failover; this makes the re-delivery
    * commit nothing, giving exactly-once lake appends WITHOUT a key
    * merge (the content-agnostic guarantee: duplicate ROWS in distinct
    * batches still land — that's [[insertOnlyMerge]]'s job). The batch
    * marker is written atomically inside the commit record, so a crash
    * between data-land and marker-land is impossible by construction.
    * Zombie fencing: if a conflict retry discovers this batchId was
    * committed by a racing instance of the same query, the loser no-ops
    * (its staged files become vacuum-able orphans, never duplicates).
    */
  def commitAppendIdempotent(df: DataFrame, appId: String, batchId: Long,
                             allowNewColumns: Boolean = false,
                             maxRetries: Int = 10): Option[Int] =
    fenced(appId, batchId)(appendWithTxn(df, allowNewColumns, maxRetries, appId, batchId))

  /** [[commitAppendIdempotent]] for an incremental applier that must
    * not record an empty batch: stages `df` once and commits nothing
    * (None) when no row was staged — the staged footers answer
    * "empty?", so the input runs once instead of once more under an
    * `isEmpty` probe. Streaming sinks keep the public form, which
    * records every delivered batch id, empty ones included. */
  private[lake] def appendNonEmptyIdempotent(df: DataFrame, appId: String,
                                             batchId: Long): Option[Int] =
    appendWithTxn(df, allowNewColumns = false, maxRetries = 10, appId, batchId,
      skipEmpty = true)

  /** Latest batch id committed under `appId` (None if the app never
    * committed). Scans the log backwards from the head, so the cost is
    * O(commits since the app's last batch) — one bounded probe at query
    * (re)start for a live sink; only a first-ever batch on a table the
    * app never wrote pays a full-history walk.
    */
  def lastCommittedBatch(appId: String): Option[Long] = {
    var v = latestVersion().getOrElse(-1)
    while (v >= 0) {
      val d = log.record(v)
      if (d.txnApp == appId) return Some(d.txnVer)
      v -= 1
    }
    None
  }

  /** Physical name for an evolution-added column: its logical name
    * unless that collides with a LIVE physical or a dropped column's
    * residual physical still inside snapshot data files (re-binding it
    * would resurrect the dropped data) — then a version-suffixed fresh
    * id, exactly Delta's never-reuse-a-column-id rule. */
  private def freshPhys(name: String, used: Set[String], v: Int): String =
    if (!used.contains(name)) name
    else Iterator.from(v).map(k => s"${name}_v$k").find(!used.contains(_)).get

  private def appendWithTxn(df: DataFrame, allowNewColumns: Boolean,
                            maxRetries: Int, txnApp: String,
                            txnVer: Long, skipEmpty: Boolean = false): Option[Int] = {
    checkSchema(df, allowNewColumns)
    // column mapping: stage under the head's PHYSICAL names; evolution-
    // added columns allocate fresh physical ids that never collide with
    // live or dropped physicals. The staged layout binds to this map —
    // a racing mapping change (rename/drop) also changes the schema
    // DDL, so the retry loop's checkSchema aborts before a mixed commit.
    val head0 = latestVersion().map(readCommit)
    val map0 = head0.map(physMap).getOrElse(Map.empty[String, String])
    val dropped0 = head0.map(_.droppedPhys).getOrElse(Seq.empty)
    val stageMap: Map[String, String] = head0 match {
      case None => Map.empty
      case Some(h) =>
        val prevNames = StructType.fromDDL(h.schemaDdl).fieldNames.toSet
        val added = df.schema.filterNot(f => prevNames.contains(f.name))
        if (added.isEmpty || (map0.isEmpty && dropped0.isEmpty)) map0
        else {
          val used = prevNames.map(n => map0.getOrElse(n, n)) ++ dropped0
          map0 ++ added.flatMap { f =>
            val p = freshPhys(f.name, used, h.version + 1)
            if (p == f.name) None else Some(f.name -> p)
          }
        }
    }
    // a partitioned table's appends keep the one-value-per-file layout
    // (the partition columns are never colMap-ped — renameColumn/
    // dropColumn refuse them — so staging references logical names)
    val pcols0 = head0.map(_.pcols).getOrElse(Nil)
    val files = stage(
      if (stageMap.isEmpty) df else toPhysical(df, df.schema, stageMap),
      nextVersion, pcols = pcols0)
    // Row count from the staged parquet footers — exact, metadata-only,
    // and spares EVERY append the separate df.count() action (a full
    // second evaluation of the input; on a streaming sink that was
    // re-reading each micro-batch twice).
    val rows = fileRows(files)
    if (skipEmpty && files.isEmpty) return None
    var attempt = 0
    var committed: Option[Int] = None
    var done = false
    var validatedCons: Option[Seq[(String, String)]] = None
    while (!done) {
      val head = latestVersion()
      // Zombie fencing, checked against EVERY head we attempt, not just
      // inside the conflict catch: a racing instance of the same
      // streaming query that committed this batch while we were staging
      // moves the head WITHOUT causing a version conflict — the scan
      // from `head` either sees its marker here, or the racer committed
      // after the scan and necessarily occupies head+1, which makes our
      // writeCommit conflict and re-enter this check. No interleaving
      // commits the batch twice.
      if (txnApp.nonEmpty && lastCommittedBatch(txnApp).exists(_ >= txnVer)) {
        done = true
      } else {
        val v = head.map(_ + 1).getOrElse(0)
        val prevCommit = head.map(readCommit)
        val schema = if (allowNewColumns) df.schema.toDDL
          else prevCommit.map(_.schemaDdl).getOrElse(df.schema.toDDL)
        // CHECK constraints: enforced against the head's CURRENT set,
        // re-validated on every retry — an append must not rebase past
        // a racing addConstraint with rows only the old set admitted
        val cons = prevCommit.map(_.constraints).getOrElse(Nil)
        if (!validatedCons.contains(cons)) {
          checkConstraints(df, cons)
          validatedCons = Some(cons)
        }
        // the staged files' physical layout binds to the map read at
        // stage time — a racing mapping change alters the schema DDL and
        // aborts via checkSchema, but guard the map itself too (belt and
        // braces: a same-DDL map divergence must never commit silently)
        if (prevCommit.exists(pc => physMap(pc) != map0 ||
            pc.droppedPhys != dropped0)) sys.error(
          s"append conflict: racing column-mapping change at " +
            s"v${prevCommit.map(_.version).getOrElse(-1)} — staged files " +
            s"bind to the old physical layout; re-run the append")
        try {
          log.writeCommit(Commit(v, "append",
            prevCommit.map(_.files).getOrElse(Seq.empty) ++ files, schema,
            prevCommit.map(_.rows).getOrElse(0L) + rows,
            System.currentTimeMillis(), txnApp, txnVer,
            constraints = cons,
            colMap = stageMap.toSeq.sortBy(_._1),
            droppedPhys = dropped0,
            pcols = pcols0,
            props = prevCommit.map(_.props).getOrElse(Nil)))
          committed = Some(v)
          done = true
        } catch {
          case e: RuntimeException
              if e.getMessage != null &&
                e.getMessage.contains("concurrent commit conflict") &&
                attempt < maxRetries =>
            attempt += 1
            // rebase: the racing commit may have evolved the schema — the
            // append must still fit the NEW head before re-attempting
            checkSchema(df, allowNewColumns)
        }
      }
    }
    committed
  }

  /** Exact row count of `files`: the per-file meta staging and the log
    * recorded ([[LakeLog.fileMetaIndex]]), else the parquet footers — O(files)
    * metadata reads, zero data scanned. Footers open in parallel: on an
    * object store each open is a remote round-trip, and a many-file
    * append paying them serially on the driver would undo the win over
    * the old distributed `df.count()` this replaced. */
  private def fileRows(files: Seq[String]): Long = {
    import scala.collection.parallel.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.par.map { f =>
      log.fileMetaIndex.get(f).map(_.rows).filter(_ >= 0).getOrElse {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(s"$tablePath/$f"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
    }.sum
  }

  /** Snapshot read; `version = None` reads the latest. Time travel =
    * pass an older version. Every snapshot — plain, deletion-vector
    * overlaid, column-mapped — reads through the same [[scan]]: the
    * log-planned native relation, the overlay, the logical alignment.
    */
  def read(version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion())
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    version.foreach(log.checkVacuumHorizon(_, "time travel to"))
    scan(readCommit(v))
  }

  /** Latest version committed at or before `tsMillis` (Delta's
    * `timestampAsOf` resolution). Commit timestamps are written by the
    * serializing winner so they are monotone on one clock, but multiple
    * writers' clocks can skew — so this scans the retained history and
    * takes the max version whose ts ≤ target rather than assuming
    * monotonicity (O(history) log-record reads, the same order as
    * `versions()` itself). None if the table didn't exist yet. */
  def versionAt(tsMillis: Long): Option[Int] =
    versions().filter(v => log.record(v).ts <= tsMillis) match {
      case Seq() => None
      case vs    => Some(vs.max)
    }

  /** Snapshot as of a wall-clock instant — time travel by timestamp
    * (`SELECT ... TIMESTAMP AS OF`): resolves [[versionAt]] and reads
    * that version (vacuum-horizon interlock applies as usual). */
  def readAsOf(tsMillis: Long): DataFrame =
    read(Some(versionAt(tsMillis).getOrElse(sys.error(
      s"no version committed at or before timestamp $tsMillis at " +
        s"$tablePath (earliest commit: ${versions().headOption
          .map(v => log.record(v).ts).getOrElse(-1L)})"))))

  /** Insert-only merge (delta-rs `when_not_matched_insert_all`): source
    * rows whose keys exist in the snapshot are dropped, the rest append
    * — [[mergeConditional]] with one unconditional insert clause. A
    * no-op source commits nothing. Source columns the table lacks are
    * projected away (Delta's insert-all rule without schema evolution),
    * as for every merge; a new column needs an explicit evolving append.
    */
  def insertOnlyMerge(source: DataFrame, keys: Seq[String]): Option[Int] =
    mergeConditional(source, keys, Seq(Merge.NotMatchedInsert(None)))

  /** Change data feed: row-level changes in versions
    * (fromVersion, toVersion], with `_commit_version` and
    * `_change_type` ('insert' | 'delete') columns — Delta CDF
    * semantics. Per version it reads ONLY the files that changed hands
    * in that commit (the add/remove lists of its incremental log
    * record), so the cost is proportional to the change, not the table:
    * the incremental-consumer contract that lets a downstream job
    * follow a 100 TB table by reading megabytes per sync.
    *
    * Append commits surface their new rows as inserts (no old files
    * read at all). Rewrite commits (delete/update/merge/overwrite/
    * optimize) surface the MULTISET DIFFERENCE between the replaced and
    * replacement files: rows only in the old files are deletes, rows
    * only in the new files are inserts, and rows copied through
    * unchanged — including the entirety of an `optimize`, whose content
    * is identical by contract — produce NO change rows. An update
    * appears as its delete+insert pair (Delta's behavior without the
    * CDC column store). Reading a range requires its versions to still
    * be vacuum-retained — the replaced files stay referenced by the
    * prior version's commit record, which is exactly what [[vacuum]]'s
    * retention horizon keeps.
    */
  /** Which change types versions (fromVersion, toVersion] can POSSIBLY
    * surface — (mayInsert, mayDelete), decided from the log records
    * alone (the same add/remove/dvTargets dispatch [[changesBetween]]
    * branches on), zero data reads. An append-only range provably
    * carries no deletes and a pure-delete range no inserts, so an
    * incremental consumer (r20: [[Medallion.refreshSilver]]) can skip
    * the corresponding apply leg — and its emptiness-probe job —
    * entirely. Conservative by construction: a rewrite commit reports
    * both possible even when the actual diff nets to one side. */
  def changeTypesPossible(fromVersion: Int, toVersion: Int): (Boolean, Boolean) = {
    var ins = false
    var del = false
    ((fromVersion + 1) to toVersion).foreach { v =>
      val d = log.record(v)
      if (d.dvTargets.nonEmpty) {
        del = true
        if (d.add.exists(n => !isDv(n))) ins = true
      } else {
        if (d.add.nonEmpty) ins = true
        if (d.remove.nonEmpty) del = true
      }
    }
    (ins, del)
  }

  def changesBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion, "fromVersion must be <= toVersion")
    // Reading version v's changes touches its removed files, which live
    // in snapshot v-1 — so the whole range needs fromVersion at or above
    // the vacuum horizon (h <= 0 means no stranding vacuum ever ran).
    val h = log.vacuumHorizon()
    if (h > 0 && fromVersion < h) sys.error(
      s"change feed from version $fromVersion is below the vacuum horizon " +
        s"v$h — replaced files of vacuumed versions are gone; earliest " +
        s"readable change range starts at v$h")
    val batches = ((fromVersion + 1) to toVersion).flatMap { v =>
      // The incremental log IS the change record: no snapshot diffing.
      val d = log.record(v)
      // change rows surface under version v's LOGICAL schema (post-
      // rename names — Delta CDF behavior); physical names are stable
      // across renames, so v's map applies to files of any age
      val vSchema = StructType.fromDDL(d.schemaDdl)
      val vMap = d.colMap.toMap
      // align also when only droppedPhys is set (drop with an empty
      // rename overlay): a change feed over pre-drop files must not
      // resurface the tombstoned column, and the rewrite-diff branch
      // needs both sides on the logical schema
      def aligned(df: DataFrame): DataFrame =
        if (vMap.isEmpty && d.droppedPhys.isEmpty) df
        else alignToSchema(df, vSchema, colMap = vMap)
      // files of snapshot `at` read under `rec`'s physical schema: the
      // log supplies both the schema (no mergeSchema inference job) and
      // the statuses (a handle that has not seen a file yet learns its
      // meta by resolving the snapshot holding it — no status probes)
      def logRead(names: Seq[String], rec: LogCodec.CommitRecord, at: Int): DataFrame = {
        if (!names.forall(log.fileMetaIndex.contains)) log.resolveSnap(at)
        readFiles(names, physReadSchema(rec.schemaDdl, rec.colMap.toMap))
      }
      def tagged(names: Seq[String], v: Int, change: String): DataFrame =
        aligned(logRead(names, d, v))
          .withColumn("_commit_version", lit(v))
          .withColumn("_change_type", lit(change))
      if (d.dvTargets.nonEmpty) {
        // MoR delete/update: the change set is exactly the rows at the
        // marked positions (plus, for update-dv, the new images in the
        // commit's added data files) — read ONLY the targeted files
        // (cost ∝ the mutation, never the table) and keep the rows the
        // commit's vectors mark: the overlay's scan-local filter,
        // negated, under the overlay's size gear (a semi-join with the
        // vector files above it). The marked rows were live at the
        // writer's base by construction (the mark pass scans through
        // the overlay; racing DVs are row-disjoint), so no prior-DV
        // subtraction is needed.
        val dvs = d.add.filter(isDv)
        val targets = logRead(d.dvTargets, d, v)
        val marked =
          if (dvOversized(dvs)) {
            val dvPos = readFiles(dvs, VersionedTable.DvSchema)
              .select(col("file").as("_g_file"), col("pos").as("_g_pos"))
            dvOverlay(targets, Nil, withPos = true)
              .join(dvPos, Seq("_g_file", "_g_pos"), "left_semi")
              .drop("_g_file", "_g_pos")
          } else targets.filter(not(org.apache.spark.sql.graft.DvNotDeleted.column(
            col("_metadata.file_path"), col("_metadata.row_index"), dvBroadcast(dvs))))
        val dels = aligned(marked)
          .withColumn("_commit_version", lit(v))
          .withColumn("_change_type", lit("delete"))
        val newData = d.add.filterNot(isDv)
        Some(if (newData.isEmpty) dels
             else dels.unionByName(tagged(newData, v, "insert")))
      } else {
      val added = d.add
      val removed = d.remove.sorted
      // Prior MoR deletions overlay the REPLACED side: a rewrite absorbs
      // them, and without the overlay the diff would re-emit rows whose
      // deletion was already surfaced by the delete-dv commit. The
      // vectors are snapshot v-1's, so the overlay is keyed by v-1, and
      // the replaced files are read under v-1's physical schema.
      def replaced = {
        val prevDvs = log.resolveSnap(v - 1).files.filter(isDv)
        aligned(dvOverlay(logRead(removed.filterNot(isDv), log.record(v - 1), v - 1),
          prevDvs))
      }
      (added.nonEmpty, removed.nonEmpty) match {
        case (false, false) => None
        case (true, false)  => Some(tagged(added, v, "insert"))
        case (false, true)  =>
          Some(replaced
            .withColumn("_commit_version", lit(v))
            .withColumn("_change_type", lit("delete")))
        case (true, true)   =>
          // Rewrite: diff replaced vs replacement content so untouched
          // rows (and whole no-op rewrites like optimize) cancel out.
          // r19: ONE grouped symmetric-difference pass — Spark rewrites
          // each exceptAll as union→groupBy-all-columns→replicate, so
          // the former two exceptAlls paid two shuffles and read both
          // sides twice; a group's count imbalance yields its inserts
          // OR deletes directly (same grouping equality — NaN/-0.0
          // normalization — and the same multiset replication).
          val oldRows = replaced
          val newRows = aligned(logRead(added.filterNot(isDv), d, v))
            .select(oldRows.columns.map(col): _*)
          val cols = oldRows.columns.toSeq
          val side = "_g_cdf_side"
          val diff = (col("_g_cdf_n") - col("_g_cdf_o")).cast("int")
          Some(newRows.withColumn(side, lit(1))
            .unionByName(oldRows.withColumn(side, lit(0)))
            .groupBy(cols.map(col): _*)
            .agg(count(when(col(side) === 1, 1)).as("_g_cdf_n"),
              count(when(col(side) === 0, 1)).as("_g_cdf_o"))
            .filter(diff =!= 0)
            .select(cols.map(col) ++ Seq(
              lit(v).as("_commit_version"),
              when(diff > 0, "insert").otherwise("delete").as("_change_type"),
              abs(diff).as("_g_cdf_rep")): _*)
            .withColumn("_g_cdf_x",
              explode(array_repeat(lit(1), col("_g_cdf_rep"))))
            .drop("_g_cdf_rep", "_g_cdf_x"))
      }
      }
    }
    if (batches.isEmpty) {
      val v = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
      read(Some(v)).limit(0)
        .withColumn("_commit_version", lit(0))
        .withColumn("_change_type", lit("insert"))
    } else batches.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---- row-level mutations (copy-on-write) ---------------------------
  //
  // Delta's DML model rebuilt on the file-list log: a DELETE/UPDATE/MERGE
  // identifies the data files that contain at least one affected row
  // (file pruning via the `_metadata.file_path` scan column — predicate
  // pushdown applies, so at scale the pruning pass reads only the
  // predicate's columns), rewrites ONLY those files, and commits
  // untouched-files ++ rewritten-files as a new version. Unaffected files
  // — the overwhelming majority under selective mutations on a 100 TB
  // table — are never read twice nor rewritten, and time travel to
  // pre-mutation versions keeps working. Like `overwrite`/`optimize`,
  // these rewrite commits surface their rewritten rows as "added" in
  // [[changesBetween]]; callers detect them via the commit action.

  /** File names (not paths) of committed files holding ≥1 row matching
    * `hit`, via one column-pruned scan of the snapshot. The result is
    * O(affected files) driver-side — file metadata, not data. */
  private def affectedFiles(c: Commit, hit: org.apache.spark.sql.Column): Seq[String] = {
    val (_, data) = splitDv(c.files)
    // stats-prune BEFORE scanning: only files whose min/max may hold a
    // matching row are read at all — the pre-scan of a selective
    // mutation on a 100 TB table is bounded by the predicate, not the
    // table. Then LIVE rows only: a row already removed by a deletion
    // vector must not count as affected (it would rewrite — and
    // re-count — a dead row).
    val cand = pruneByStats(data, c.schemaDdl, hit, physMap(c), c.droppedPhys)
    if (cand.isEmpty) Seq.empty
    else scan(c, Some(cand), keep = Seq("_g_file"))
      .filter(hit)
      .select(col("_g_file")).distinct()
      .collect().map(_.getString(0)).toSeq
  }

  private def readFiles(names: Seq[String], schema: StructType): DataFrame = {
    // log-answered statuses (r17): when every file's size is known from
    // the commit log, the subset scans through an explicit FileIndex
    // with ZERO per-file status probes — `spark.read.parquet` pays an
    // InMemoryFileIndex round-trip per file, O(subset) planning I/O on
    // every pruned read, mutation pre-scan, and DV overlay. Legacy
    // pre-meta files fall back.
    val metas = names.flatMap(n =>
      log.fileMetaIndex.get(n).filter(_.size >= 0).map(n -> _))
    if (metas.size == names.size)
      org.apache.spark.sql.graft.GraftFileIndex.subsetRead(
        spark, tablePath, metas, schema)
    else spark.read.schema(schema)
      .parquet(names.map(f => s"$tablePath/$f"): _*)
  }

  /** Serializable-style conflict check for a rewrite based on snapshot
    * `base` whose file-level read-set is `readSet` (the files it chose
    * to rewrite): walk every commit that landed after `base`, and
    *  - a racing commit whose removed files intersect the read-set
    *    invalidated the rewrite's inputs → abort loudly, naming BOTH
    *    commits (Delta's ConcurrentDeleteReadException shape);
    *  - a full table replacement (overwrite / legacy full record) or a
    *    schema change aborts likewise (Delta's metadata-conflict rule);
    *  - anything else — blind appends, rewrites of DISJOINT files —
    *    is logically compatible: this rewrite serializes BEFORE the
    *    racing commit, so it rebases onto the new head (racing files
    *    carry through untouched). Returns the head commit to rebase on.
    */
  private def rebaseTarget(action: String, base: Commit, readSet: Set[String],
                           onDvOverlap: (Int, String, Seq[String], Set[String]) => Unit = null): Commit = {
    val head = latestVersion()
      .getOrElse(sys.error(s"no committed versions at $tablePath"))
    // Constraint changes admit NO rebase at all: a racing append's rows
    // were validated only against the OLD constraint set (and a racing
    // constraint commit built from the same base would silently drop the
    // other's change) — head must still be the exact base this writer
    // validated existing rows on.
    if ((action == "constraint" || action == "properties") && head != base.version)
      sys.error(
        s"$action conflict: this $action change (based on " +
          s"v${base.version}) raced commit(s) up to v$head — rows or " +
          s"definitions that landed in between were never validated against " +
          s"the new set; re-run against the fresh snapshot")
    ((base.version + 1) to head).foreach { v =>
      val d = log.record(v)
      if (d.full || d.action == "overwrite") sys.error(
        s"rewrite conflict: this $action (based on v${base.version}) lost " +
          s"to racing commit v$v (${d.action}), which replaced the whole " +
          s"table — re-run against the fresh snapshot")
      val overlap = d.remove.toSet.intersect(readSet)
      if (overlap.nonEmpty) sys.error(
        s"rewrite conflict: this $action (based on v${base.version}) read " +
          s"file(s) [${overlap.toSeq.sorted.take(3).mkString(", ")}] that " +
          s"racing commit v$v (${d.action}) rewrote — re-run against the " +
          s"fresh snapshot")
      // A racing MoR writer marked rows inside files in this writer's
      // read-set. For a CoW rewrite (default) that is always fatal: its
      // staged files hold the PRE-deletion content, so committing would
      // resurrect the racer's deleted rows (the DV entries go inert on
      // the new files). A DV writer passes `onDvOverlap` to downgrade
      // the check to ROW granularity instead.
      val dvOverlap = d.dvTargets.toSet.intersect(readSet)
      if (dvOverlap.nonEmpty) {
        if (onDvOverlap != null) onDvOverlap(v, d.action, d.add.filter(isDv), dvOverlap)
        else sys.error(
          s"rewrite conflict: this $action (based on v${base.version}) " +
            s"rewrote file(s) [${dvOverlap.toSeq.sorted.take(3).mkString(", ")}] " +
            s"in which racing commit v$v (${d.action}) deleted rows by " +
            s"deletion vector — re-run against the fresh snapshot")
      }
    }
    val headC = readCommit(head)
    if (headC.schemaDdl != base.schemaDdl) sys.error(
      s"rewrite conflict: this $action (based on v${base.version}) raced a " +
        s"schema change (now at v$head) — re-run against the fresh snapshot")
    // A racing constraint change invalidates this writer's validation:
    // its staged content was checked against the OLD set. (Constraint
    // commits themselves pass trivially: their base IS head's parent.)
    if (action != "constraint" && headC.constraints != base.constraints) sys.error(
      s"rewrite conflict: this $action (based on v${base.version}) raced a " +
        s"constraint change (now at v$head) — re-run against the fresh snapshot")
    headC
  }

  /** The shared stage-once / validate / rebase-retry commit loop every
    * non-append writer runs: [[rebaseTarget]] proves the racing commits
    * compatible (throwing on genuine overlap), then the commit record is
    * rebuilt against each new head from the caller's file and row rules
    * — retries are metadata-only, staged data is never re-written. */
  private[lake] def commitRebasing(action: String, base: Commit, readSet: Set[String],
                             mkFiles: Commit => Seq[String],
                             mkRows: Commit => Long,
                             dvTargets: Seq[String] = Nil,
                             onDvOverlap: (Int, String, Seq[String], Set[String]) => Unit = null,
                             mkConstraints: Commit => Seq[(String, String)] = _.constraints,
                             schemaDdlOverride: String = null,
                             colMapOverride: Seq[(String, String)] = null,
                             droppedPhysOverride: Seq[String] = null,
                             propsOverride: Seq[(String, String)] = null,
                             maxRetries: Int = 10,
                             txnApp: String = "", txnVer: Long = -1L): Int = {
    var attempt = 0
    while (true) {
      val headC = rebaseTarget(action, base, readSet, onDvOverlap)
      try {
        log.writeCommit(Commit(headC.version + 1, action, mkFiles(headC),
          if (schemaDdlOverride == null) base.schemaDdl else schemaDdlOverride,
          mkRows(headC), System.currentTimeMillis(),
          txnApp = txnApp, txnVer = txnVer,
          dvTargets = dvTargets, constraints = mkConstraints(headC),
          colMap = if (colMapOverride == null) base.colMap else colMapOverride,
          droppedPhys =
            if (droppedPhysOverride == null) base.droppedPhys
            else droppedPhysOverride,
          // partitioning is fixed at creation; properties rebase off the
          // HEAD (a racing properties commit is caught by rebaseTarget's
          // definition rules for "properties" actions — see below)
          pcols = base.pcols,
          props = if (propsOverride == null) headC.props else propsOverride))
        return headC.version + 1
      } catch {
        case e: RuntimeException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent commit conflict") &&
              attempt < maxRetries =>
          attempt += 1 // next loop re-validates against the newer head
      }
    }
    -1 // unreachable
  }

  /** Commit a copy-on-write rewrite with file-level read-set validation
    * (the round-13 upgrade from abort-on-any-conflict): data files stage
    * ONCE; on a version conflict the already-staged files rebase onto
    * the new head exactly like [[commitAppend]]'s metadata-only retry —
    * but only after [[rebaseTarget]] proves every racing commit touched
    * a DISJOINT file set. A delete racing a blind append (the common
    * production race: Bronze ingest vs retention job) now lands both;
    * genuine overlap still aborts loudly. Row accounting is the one
    * rule every rewrite shares, from metadata alone: the staged
    * footers' rows minus the replaced data files' live rows
    * ([[liveRowCount]]), added to the head's total — racing commits
    * changed disjoint rows, so the rebased total is exact.
    */
  private[lake] def commitRewrite(action: String, c: Commit, affected: Seq[String],
                            rewritten: DataFrame,
                            maxRetries: Int = 10,
                            txnApp: String = "", txnVer: Long = -1L): Int = {
    // every rewrite path hands in a LOGICAL frame aligned to the base
    // snapshot's schema; under column mapping the staged files must
    // store the stable PHYSICAL names. Rewrites of a partitioned table
    // keep the one-value-per-file layout (pcols are never mapped).
    val files = stage(
      toPhysical(rewritten, StructType.fromDDL(c.schemaDdl), physMap(c)),
      nextVersion, pcols = c.pcols)
    val readSet = affected.toSet
    val rowDelta = fileRows(files) - liveRowCount(c, affected.filterNot(isDv))
    commitRebasing(action, c, readSet,
      mkFiles = headC => headC.files.filterNot(readSet) ++ files,
      mkRows = headC => headC.rows + rowDelta,
      maxRetries = maxRetries, txnApp = txnApp, txnVer = txnVer)
  }

  /** DELETE WHERE: drops rows matching `condition` (null ⇒ kept, SQL
    * DELETE semantics). Returns the new version, or None when no row
    * matches (no-op commits nothing — same contract as
    * [[insertOnlyMerge]]). */
  def delete(condition: org.apache.spark.sql.Column): Option[Int] =
    latestVersion().flatMap { v0 =>
      val c = readCommit(v0)
      if (c.files.isEmpty) None
      else {
        val hit = coalesce(condition, lit(false))
        val affected = affectedFiles(c, hit)
        if (affected.isEmpty) None
        // through the overlay: prior MoR deletions in the affected
        // files are ABSORBED by this rewrite (their rows stay gone,
        // their DV entries go inert)
        else Some(commitRewrite("delete", c, affected,
          scan(c, Some(affected)).filter(not(hit))))
      }
    }

  /** DELETE WHERE, merge-on-read: instead of rewriting the affected data
    * files (copy-on-write [[delete]]), commit a DELETION VECTOR — the
    * (file, row-position) set of matching LIVE rows — and leave every
    * data file untouched. The write cost is O(deleted rows), not
    * O(affected files' bytes): the right tool when a selective delete
    * hits rows spread across many large files (GDPR erasure over a
    * 100 TB corpus rewrites nothing). Readers pay a deleted-rows-sized
    * anti-join until a rewrite or [[optimize]] absorbs the vector.
    *
    * Concurrency is ROW-level, not file-level: two racing MoR deletes
    * marking DISJOINT rows both land — even in the same data file —
    * because neither invalidates what the other read (the finer-grained
    * sibling of [[rebaseTarget]]'s file-level rule, which CoW rewrites
    * are stuck with). Racing deletes that mark an OVERLAPPING row abort
    * loudly (a row must not be double-counted as deleted), as does a
    * racing rewrite of any targeted file (the positions would dangle).
    * Returns the new version, or None when no live row matches.
    */
  def deleteMoR(condition: org.apache.spark.sql.Column,
                maxRetries: Int = 10): Option[Int] =
    latestVersion().flatMap { v0 =>
      val c = readCommit(v0)
      val (_, data) = splitDv(c.files)
      // stats-prune the mark scan like every other mutation pre-scan
      val cand = pruneByStats(data, c.schemaDdl, condition, physMap(c), c.droppedPhys)
      if (cand.isEmpty) None
      else commitMarks(c, scan(c, Some(cand), keep = DvPos)
        .filter(coalesce(condition, lit(false))), maxRetries)
    }

  /** DELETE by keys, merge-on-read: every live row whose `keyCols`
    * tuple appears in `keys` is marked in a deletion vector (a left
    * semi-join of the snapshot scan against the keys — null keys match
    * nothing, as in an equi-join) and no data file is rewritten — the
    * keyed sibling of the predicate form, for tombstone batches too
    * large or too dynamic for an `isin` list. Rows already hidden by
    * the overlay are not live, so a replayed delete marks nothing and
    * commits nothing (None). Conflict rules are [[commitDv]]'s. */
  def deleteMoR(keys: DataFrame, keyCols: Seq[String]): Option[Int] =
    latestVersion().flatMap { v0 =>
      val c = readCommit(v0)
      if (splitDv(c.files)._2.isEmpty) None
      else commitMarks(c, scan(c, keep = DvPos)
        .join(keys.select(keyCols.map(col): _*), keyCols, "left_semi"),
        maxRetries = 10)
    }

  /** The overlay's position columns a mark scan keeps. */
  private val DvPos = Seq("_g_file", "_g_pos")

  /** The shared tail of both [[deleteMoR]] forms: stage the marked rows'
    * positions and commit them as a `delete-dv`. */
  private def commitMarks(c: Commit, marked: DataFrame, maxRetries: Int): Option[Int] =
    stageDv(marked).map { case (dvFiles, deleted) =>
      commitDv(c, dvFiles, dvTargets(dvFiles), -deleted, maxRetries = maxRetries)
    }

  /** The data files a staged vector marks rows in, sorted — from the
    * driver-side decode [[dvVector]] (memoized, so the overlay's next
    * broadcast map reuses it), not a Spark job over the vector file. */
  private def dvTargets(dvFiles: Seq[String]): Seq[String] =
    dvFiles.flatMap(dvVector(_).keys).distinct.sorted

  /** Stage the (file, pos) of `marked` rows — a [[scan]] keeping
    * [[DvPos]] — as deletion-vector files: (vector files, marked rows),
    * or None when no row is marked (staging drops zero-row part files,
    * so nothing is left behind). Each mark-scan task that marks a row
    * writes one small vector file, straight from the scan: no shuffle
    * stage per commit (a `repartition(1)` barrier measured one extra
    * job and stage per deletion-vector commit, four per medallion
    * round), and no `coalesce(1)`, which would run the whole mark scan
    * in one task. */
  private def stageDv(marked: DataFrame): Option[(Seq[String], Long)] = {
    val dvFiles = stage(
      marked.select(col("_g_file").as("file"), col("_g_pos").as("pos")),
      nextVersion, prefix = "dv-", collectStats = false)
    if (dvFiles.isEmpty) None else Some((dvFiles, fileRows(dvFiles)))
  }

  /** UPDATE SET WHERE, merge-on-read (Delta's DV-backed update): ONE
    * commit marks the matching live rows in a deletion vector AND adds
    * new files carrying their updated images — the affected data files
    * are never rewritten, so the write cost is O(updated rows) instead
    * of O(affected files' bytes). Readers see the new images from the
    * added files and lose the old ones to the overlay, atomically (both
    * land in the same commit record). Conflict semantics are
    * [[commitDv]]'s row-level rules; the new-image files are
    * append-like and conflict with nothing. Returns the new version,
    * or None when no live row matches.
    */
  def updateMoR(condition: org.apache.spark.sql.Column,
                assignments: Map[String, org.apache.spark.sql.Column],
                maxRetries: Int = 10): Option[Int] =
    latestVersion().flatMap { v0 =>
      val c = readCommit(v0)
      val cols = StructType.fromDDL(c.schemaDdl).map(_.name)
      val unknown = assignments.keySet -- cols.toSet
      if (unknown.nonEmpty)
        sys.error(s"updateMoR assigns unknown columns $unknown")
      val (_, data) = splitDv(c.files)
      val cand = pruneByStats(data, c.schemaDdl, condition, physMap(c), c.droppedPhys)
      if (cand.isEmpty) None
      else {
        // aligned: pre-evolution candidate files must filter on, and
        // produce new images carrying, the full snapshot schema
        val marked = scan(c, Some(cand), keep = DvPos)
          .filter(coalesce(condition, lit(false)))
        stageDv(marked).map { case (dvFiles, _) =>
          // every marked row satisfied the condition, so assignments
          // apply flatly
          val newImages = marked.drop(DvPos: _*).select(cols.map { n =>
            assignments.get(n).map(_.as(n)).getOrElse(col(n))
          }: _*)
          checkConstraints(newImages, c.constraints)
          val newFiles = stage(
            toPhysical(newImages, StructType.fromDDL(c.schemaDdl), physMap(c)),
            nextVersion, pcols = c.pcols)
          commitDv(c, dvFiles, dvTargets(dvFiles), 0L, action = "update-dv",
            extraFiles = newFiles, maxRetries = maxRetries)
        }
      }
    }

  /** Commit a staged deletion vector (plus, for DV-backed updates, the
    * staged files carrying the new row images) with row-level read-set
    * validation: walk every commit that landed after `base` —
    *  - a table replacement / schema change aborts ([[rebaseTarget]]'s
    *    metadata rule);
    *  - a racing commit that REMOVED any targeted data file aborts (our
    *    row positions refer to content that left the snapshot);
    *  - a racing DV commit on a shared data file is checked at ROW
    *    granularity: disjoint positions rebase (both writers land),
    *    overlapping positions abort naming both commits;
    *  - blind appends and rewrites of disjoint files rebase.
    * Like every writer here: data (the DV parquet and any new-row
    * files) stages once, retries are metadata-only.
    */
  private[lake] def commitDv(base: Commit, dvFiles: Seq[String],
                             targets: Seq[String], rowDelta: Long,
                             action: String = "delete-dv",
                             extraFiles: Seq[String] = Nil,
                             maxRetries: Int = 10): Int =
    commitRebasing(action, base, targets.toSet,
      mkFiles = headC => headC.files ++ dvFiles ++ extraFiles,
      mkRows = headC => headC.rows + rowDelta,
      dvTargets = targets,
      // row-granularity check on a racing DV over shared files: only
      // genuinely overlapping positions conflict — the upgrade past
      // file-level validation. (File-removal and table-replacement
      // conflicts use rebaseTarget's shared rules: a rewrite of a
      // targeted file makes our positions dangle, so it aborts there.)
      onDvOverlap = (v, racingAction, racingDvs, shared) => {
        val ours = readFiles(dvFiles, VersionedTable.DvSchema)
          .filter(col("file").isin(shared.toSeq: _*))
        val theirs = readFiles(racingDvs, VersionedTable.DvSchema)
          .filter(col("file").isin(shared.toSeq: _*))
        val clash = ours.join(theirs, Seq("file", "pos"), "left_semi")
        if (!clash.isEmpty) sys.error(
          s"MoR conflict: this $action (based on v${base.version}) " +
            s"and racing commit v$v ($racingAction) marked the SAME row(s) " +
            s"in shared file(s) [${shared.toSeq.sorted.take(3).mkString(", ")}] " +
            s"— re-run against the fresh snapshot")
      },
      maxRetries = maxRetries)

  /** UPDATE SET WHERE: rewrites rows matching `condition` with the
    * assignment expressions (non-matching rows in affected files are
    * copied through byte-identical in value). Returns the new version,
    * or None when no row matches. */
  def update(condition: org.apache.spark.sql.Column,
             assignments: Map[String, org.apache.spark.sql.Column]): Option[Int] =
    latestVersion().flatMap { v0 =>
      val c = readCommit(v0)
      val cols = StructType.fromDDL(c.schemaDdl).map(_.name)
      val unknown = assignments.keySet -- cols.toSet
      if (unknown.nonEmpty)
        sys.error(s"update assigns unknown columns $unknown")
      if (c.files.isEmpty) None
      else {
        val hit = coalesce(condition, lit(false))
        val affected = affectedFiles(c, hit)
        if (affected.isEmpty) None
        else {
          val rewritten = scan(c, Some(affected)).select(cols.map { n =>
            assignments.get(n) match {
              case Some(e) => when(hit, e).otherwise(col(n)).as(n)
              case None    => col(n)
            }
          }: _*)
          // assignments can push rows out of bounds — CHECK the result
          // (a racing constraint change aborts in rebaseTarget)
          checkConstraints(rewritten, c.constraints)
          Some(commitRewrite("update", c, affected, rewritten))
        }
      }
    }

  /** Full MERGE (upsert): matched target rows are replaced by their
    * source row, unmatched source rows insert — Delta
    * `when_matched_update_all + when_not_matched_insert_all`, i.e.
    * [[mergeConditional]] with those two clauses. Only files containing
    * a matched key rewrite; a pure-insert merge degenerates to an
    * append. Returns the new version (None when nothing is claimed).
    */
  def merge(source: DataFrame, keys: Seq[String]): Option[Int] =
    mergeConditional(source, keys,
      Seq(Merge.MatchedUpdate(None, None), Merge.NotMatchedInsert(None)))

  /** Conditional MERGE (Delta's full WHEN grammar) — the lake's ONE
    * merge: one atomic commit applying, per row, the FIRST clause of
    * its group whose condition holds —
    *  - matched target rows: [[Merge.MatchedUpdate]] (update-all or
    *    SET-list) / [[Merge.MatchedDelete]], conditions and assignments
    *    over the `t`/`s`-aliased join (see [[Merge]]'s frame contract);
    *  - unmatched source rows: [[Merge.NotMatchedInsert]] (insert-all),
    *    conditions over the source row;
    *  - target rows with no source match:
    *    [[Merge.NotMatchedBySourceDelete]] /
    *    [[Merge.NotMatchedBySourceUpdate]], conditions over the target
    *    row — the CDC-apply and GDPR upsert-plus-tombstone shapes
    *    (update some matched rows, delete others, sweep the unmatched)
    *    in ONE commit.
    *
    * Only files holding a claimed row rewrite: matched-key files plus
    * files where a by-source clause's condition MAY hold on an
    * unmatched row (an unconditional by-source sweep touches every
    * file holding unmatched rows — inherent to the semantics). The
    * matched-file probe also enforces Delta's rule that a target row
    * is matched by at most one source row (the multiple-source-rows
    * error); duplicate source keys that match nothing are legal. The
    * rewrite is one join of the affected slice with the source
    * ([[Merge.rewrite]]); only a merge with insert clauses and no
    * matched clause pays a separate anti-join against the full live key
    * set. Constraints re-validate on the rewritten content; a racing
    * constraint or schema change aborts in [[rebaseTarget]] as usual.
    * When insert OR by-source clauses are present the commit does NOT
    * rebase across racing commits (`maxRetries` forced to 0): "key
    * absent from the snapshot" and "target row unmatched by the source"
    * are both read-set decisions over the WHOLE table — a racing append
    * may have inserted the key, or added unmatched rows the by-source
    * sweep never probed (Delta conflicts concurrent appends with
    * by-source merges for exactly this reason). Returns the new
    * version, or None when no clause claimed any row.
    *
    * On a NONEXISTENT table there is no target schema to project to,
    * so insert clauses seed the table with the FULL source schema —
    * including flag columns like `op` — and create it even when they
    * claim no row. If the pipeline's flag columns must stay out of the
    * table, create it (e.g. an empty overwrite with the intended
    * schema) before the first merge.
    */
  def mergeConditional(source: DataFrame, keys: Seq[String],
                       clauses: Seq[Merge.MergeClause],
                       maxRetries: Int = 10): Option[Int] = {
    require(clauses.nonEmpty, "mergeConditional needs at least one clause")
    val matched = clauses.filter(Merge.isMatched)
    val insertCls = clauses.filter(Merge.isInsert)
    val bySource = clauses.filter(Merge.isBySource)
    val retries = if (insertCls.nonEmpty || bySource.nonEmpty) 0 else maxRetries
    latestVersion() match {
      case None =>
        // no table yet: only insert clauses can claim anything
        if (insertCls.isEmpty) None
        else Some(commitOverwrite(
          Merge.inserts(source, insertCls, source.columns.toSeq)))
      case Some(v0) =>
        val c = readCommit(v0)
        val schema = StructType.fromDDL(c.schemaDdl)
        val columns = schema.map(_.name)
        // update-all / insert-all take their row images from the source,
        // so those clauses require it to CONTAIN the target schema; a
        // delete-only or SET-list-only merge needs just the keys (a CDC
        // tombstone batch is keys + an op flag). EXTRA source columns
        // (op flags, CDC timestamps) are always legal and
        // condition-frame-only — every output path projects to the
        // target columns.
        val needsFullImage = clauses.exists {
          case Merge.MatchedUpdate(_, None) => true
          case _: Merge.NotMatchedInsert    => true
          case _                            => false
        }
        val required = if (needsFullImage) schema
          else schema.filter(f => keys.contains(f.name))
        val inTypes = source.schema.map(f => f.name -> f.dataType).toMap
        val missing = required.filterNot(f => inTypes.contains(f.name)).map(_.name)
        val changed = required.filter(f =>
          inTypes.get(f.name).exists(_ != f.dataType)).map(_.name)
        if (missing.nonEmpty || changed.nonEmpty) sys.error(
          s"mergeConditional: source is missing target column(s) $missing " +
            s"/ has changed type(s) $changed")
        val (_, data) = splitDv(c.files)
        val matchedFiles =
          if (matched.isEmpty || data.isEmpty) Seq.empty[String]
          else matchedFilesOf(c, source, keys)
        val bySrcFiles =
          if (bySource.isEmpty || data.isEmpty) Seq.empty[String]
          else {
            val hit = bySource.map(_.condition.getOrElse(lit(true)))
              .reduce(_ || _)
            // stats-prune the probe: a file whose min/max prove no row
            // can satisfy ANY by-source condition holds no claimable
            // unmatched row either (conditions resolve on the
            // t-aliased frame; unresolvable shapes keep every file)
            val bcand =
              try pruneByStats(data, c.schemaDdl, hit, physMap(c),
                c.droppedPhys, alias = "t")
              catch { case _: Throwable => data }
            if (bcand.isEmpty) Seq.empty[String]
            else scan(c, Some(bcand), keep = Seq("_g_file"))
              .as("t").join(source.select(keys.map(source.col): _*).distinct(),
                keys, "left_anti")
              .filter(coalesce(hit, lit(false)))
              .select("_g_file").distinct().collect().map(_.getString(0)).toSeq
          }
        val affected = (matchedFiles ++ bySrcFiles).distinct
        // Source rows no live key matches, where the rewrite's join
        // cannot tell them: the matched probe found every live source
        // key, so after it they are the source rows outside the slice
        // (none live at all when it found no file); without a matched
        // clause only the full live key set decides.
        val unmatched =
          if (insertCls.isEmpty || (matched.nonEmpty && affected.nonEmpty)) None
          else if (matched.nonEmpty || data.isEmpty) Some(source)
          else Some(source.join(scan(c).select(keys.map(col): _*), keys, "left_anti"))
        val ins = unmatched.map(Merge.inserts(_, insertCls, columns))
        if (affected.isEmpty)
          // staged footers answer "empty?": no probe before the append
          ins.flatMap(appendWithTxn(_, allowNewColumns = false,
            maxRetries = 0, "", -1L, skipEmpty = true))
        else {
          val rewritten = ins.foldLeft(Merge.rewrite(scan(c, Some(affected)),
            source, keys, clauses, columns))(_.unionByName(_))
          checkConstraints(rewritten, c.constraints)
          Some(commitRewrite("merge", c, affected, rewritten, maxRetries = retries))
        }
    }
  }

  /** Data files holding a live row whose key some source row carries —
    * the matched-clause probe. The same job enforces Delta's
    * one-source-row-per-target-row rule: a live key that two or more
    * source rows carry is an error. */
  private def matchedFilesOf(c: Commit, source: DataFrame,
                             keys: Seq[String]): Seq[String] = {
    val srcKeys = source.groupBy(keys.map(source.col): _*)
      .agg(count(lit(1)).as("_g_n"))
    // `_metadata` is a scan-level column: the overlay projects the file
    // name BEFORE the join, and keeps MoR-deleted keys from matching (a
    // deleted key must INSERT, not resurrect the dead row's file)
    val hits = scan(c, keep = Seq("_g_file"))
      .select(keys.map(col) :+ col("_g_file"): _*)
      .join(srcKeys, keys)
    // (file, source multiplicity) pairs, deduplicated per task: a
    // groupBy by file here measured one more shuffle, stage and job
    // per merge and 5 more generated classes
    val pairs = org.apache.spark.sql.graft.DistinctCollect(hits, col("_g_file"), col("_g_n"))
    if (pairs.exists(_.getLong(1) > 1)) {
      val dup = hits.filter(col("_g_n") > 1).select(keys.map(col): _*).head()
      sys.error(s"merge: multiple source rows match the target row with key " +
        s"${keys.zip(dup.toSeq).mkString(", ")} — a matched target row must " +
        s"be claimed by exactly one source row")
    }
    pairs.map(_.getString(0)).distinct
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`): atomically
    * replace exactly the rows matching `predicate` with `df` — the
    * idempotent re-load primitive (re-running a day's load replaces that
    * day, touching nothing else). Every incoming row must itself satisfy
    * the predicate (checked, Delta's constraint — otherwise a "day"
    * load could silently leak rows into other days and a re-run would
    * not be idempotent). Only files holding matching rows rewrite;
    * stats-based pruning bounds the pre-scan. Returns the new version.
    */
  def replaceWhere(predicate: org.apache.spark.sql.Column,
                   df: DataFrame): Int =
    replaceWhereTxn(predicate, df, "", -1L)
      .getOrElse(sys.error("unreachable: non-txn replaceWhere never no-ops"))

  /** Idempotent [[replaceWhere]] for incremental-refresh consumers: the
    * scoped overwrite commits tagged (`appId`, `batchId`) in the same
    * setTransaction ledger the streaming sinks use, and NO-OPS (None)
    * when a commit from `appId` with a batch id ≥ `batchId` already
    * landed. This is the exactly-once anchor for a BUCKET-PARTITIONED
    * state table maintained from a change feed (batchId = the consumed
    * source version): a crash between the scoped overwrite and the
    * consumer's cursor advance replays the batch, and the replay
    * commits nothing — while the rewrite itself stays bounded by the
    * touched buckets' files, never the whole state ([[graft.lake.Medallion]]'s
    * Gold refresh is the canonical caller). */
  def replaceWhereIdempotent(predicate: org.apache.spark.sql.Column,
                             df: DataFrame, appId: String,
                             batchId: Long): Option[Int] =
    fenced(appId, batchId)(replaceWhereTxn(predicate, df, appId, batchId))

  /** None only when the degenerate-append path was zombie-fenced by a
    * racing instance that already committed this (txnApp, txnVer) —
    * the batch is durable either way. */
  private def replaceWhereTxn(predicate: org.apache.spark.sql.Column,
                              df: DataFrame, txnApp: String,
                              txnVer: Long): Option[Int] = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    checkSchema(df, allowNewColumns = false)
    val c = readCommit(v0)
    val hit = coalesce(predicate, lit(false))
    // one pass over the incoming batch checks the scope (the staged
    // write below is its second and last evaluation; the row total
    // comes from the staged footers)
    val counts = df.agg(
      org.apache.spark.sql.functions.sum(when(not(hit), 1L).otherwise(0L))).head()
    val violations = if (counts.isNullAt(0)) 0L else counts.getLong(0)
    if (violations > 0) sys.error(
      s"replaceWhere: $violations incoming row(s) do not satisfy the " +
        s"predicate — a scoped overwrite must only write rows inside its " +
        s"own scope, or re-runs stop being idempotent")
    checkConstraints(df, c.constraints) // kept rows are valid by induction
    val (_, data) = splitDv(c.files)
    if (data.isEmpty) {
      // empty table: the scoped overwrite degenerates to an append
      appendWithTxn(df, allowNewColumns = false, maxRetries = 0, txnApp, txnVer)
    } else {
      val affected = affectedFiles(c, hit)
      if (affected.isEmpty)
        appendWithTxn(df, allowNewColumns = false, maxRetries = 0, txnApp, txnVer)
      else {
        val before = scan(c, Some(affected))
        Some(commitRewrite("replaceWhere", c, affected,
          before.filter(not(hit)).unionByName(df.select(before.columns.map(col): _*)),
          txnApp = txnApp, txnVer = txnVer))
      }
    }
  }

  /** Replace an EXPLICIT set of snapshot data files with `df` in one
    * rewrite commit — the FILE-granular building block under
    * bucket-refresh writers ([[graft.lake.Medallion]]'s Gold refresh is
    * the canonical caller). Unlike [[replaceWhere]], which re-reads the
    * affected files to compute the kept rows itself (predicate
    * semantics demand it), this primitive trusts the caller to have
    * ALREADY read the files and re-included every surviving row in
    * `df` — so the whole refresh costs ONE read + ONE write of the hit
    * files, where the predicate path pays ~three reads. Rows of
    * `replaced` files not re-included in `df` are PERMANENTLY dropped:
    * that is the contract, not a failure mode.
    *
    * Row accounting is metadata-only: replaced files' live counts come
    * from the stats sidecars minus their deletion-vector marks (a
    * stats-less file falls back to one footer-count scan of just that
    * file). Conflict class = rewrite of exactly `replaced`: racing
    * appends rebase under it, racing rewrites or DV commits touching
    * those files abort loudly. */
  def replaceFiles(replaced: Seq[String], df: DataFrame): Int =
    replaceFilesTxn(replaced, df, "", -1L)

  /** Idempotent [[replaceFiles]] keyed (`appId`, `batchId`) in the same
    * setTransaction ledger as every streaming/refresh writer: a replay
    * with a batch id the ledger already covers commits nothing. */
  def replaceFilesIdempotent(replaced: Seq[String], df: DataFrame,
                             appId: String, batchId: Long): Option[Int] =
    fenced(appId, batchId)(Some(replaceFilesTxn(replaced, df, appId, batchId)))

  private def replaceFilesTxn(replaced: Seq[String], df: DataFrame,
                              txnApp: String, txnVer: Long): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val dataSet = splitDv(c.files)._2.toSet
    val bad = replaced.filterNot(dataSet)
    if (bad.nonEmpty) sys.error(
      s"replaceFiles: ${bad.size} file(s) are not data files of the " +
        s"current snapshot (e.g. ${bad.head}) — the replace set must come " +
        s"from snapshotDataFiles/candidateFiles at the same version")
    checkSchema(df, allowNewColumns = false)
    checkConstraints(df, c.constraints)
    commitRewrite("replaceFiles", c, replaced, df, txnApp = txnApp, txnVer = txnVer)
  }

  /** Live rows in data `files` of snapshot `c`: their footer-exact row
    * counts ([[fileRows]]) minus the deletion-vector marks targeting
    * them. A rewrite of EVERY data file (optimize) replaces the head's
    * whole live total `c.rows` and decodes nothing; otherwise the marks
    * come from the driver-side vector decode (memoized, bounded by the
    * overlay's broadcast cap) or, above the cap, from one count over
    * the vector files — never a data scan. */
  private def liveRowCount(c: Commit, files: Seq[String]): Long = {
    val (dvs, data) = splitDv(c.files)
    val fileSet = files.toSet
    if (data.forall(fileSet)) c.rows
    else if (dvs.isEmpty) fileRows(files)
    else fileRows(files) - (
      if (dvOversized(dvs))
        readFiles(dvs, VersionedTable.DvSchema).filter(col("file").isin(files: _*)).count()
      else dvs.iterator.flatMap(dvVector)
        .collect { case (f, ps) if fileSet(f) => ps.length.toLong }.sum)
  }

  /** Compact the current snapshot to ~targetRowsPerFile (content
    * unchanged — a pure layout version; older versions still readable).
    */
  def optimize(targetRowsPerFile: Long): Int = {
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    // row count from the maintained commit metadata (footer-exact by
    // protocol, live-row exact under DVs) — no full count scan
    val nFiles = math.max(1, math.ceil(c.rows.toDouble / targetRowsPerFile).toInt)
    val compacted = scan(c).repartition(nFiles)
    // read-set = the whole snapshot INCLUDING its deletion vectors:
    // optimize rewrites every data file through the overlay, leaving
    // every DV entry inert, so the DVs drop out of the new snapshot —
    // the compaction that also purges soft-deleted rows (Delta's
    // OPTIMIZE + DV rewrite). A racing append rebases cleanly; a racing
    // rewrite or DV commit aborts (overlap).
    commitRewrite("optimize", c, c.files, compacted)
  }

  /** Compact only the snapshot's SMALL files (r19 — Delta's
    * auto-compact shape, the streaming-sink hygiene primitive): files
    * whose log-recorded row count is below `targetRowsPerFile / 2`
    * rewrite into right-sized files in ONE commit; every full-size
    * file is untouched BY IDENTITY, so the rewrite cost is
    * O(small-file bytes) — a month of micro-batches compacts for the
    * cost of the micro-batches, not the table. Read-set validation is
    * file-level like every rewrite: racing appends rebase cleanly
    * (disjoint files), racing rewrites of a compacted file abort.
    * No-op (None) below `minSmallFiles` — compaction that saves fewer
    * opens than it costs commits shouldn't run. Live rows are
    * preserved exactly (the rewrite reads through the DV overlay;
    * affected files' DV entries go inert). */
  def compactSmallFiles(targetRowsPerFile: Long,
                        minSmallFiles: Int = 8): Option[Int] = {
    require(targetRowsPerFile > 0, "compactSmallFiles needs a positive target")
    val v0 = latestVersion().getOrElse(sys.error(s"no commits at $tablePath"))
    val c = readCommit(v0)
    val (_, data) = splitDv(c.files)
    val meta = snapshotFileMeta(Some(v0))
    val small = data.filter(f => meta.get(f)
      .exists(m => m.rows >= 0 && m.rows < targetRowsPerFile / 2))
    if (small.size < math.max(2, minSmallFiles)) return None
    val live = scan(c, Some(small))
    val smallRows = small.flatMap(meta.get).map(_.rows).sum // pre-DV upper bound
    val nOut = math.max(1, math.ceil(smallRows.toDouble / targetRowsPerFile).toInt)
    // partitioned tables re-split per value in staging (one-value-per-
    // file invariant); only flat tables take the explicit repartition
    val shaped = if (c.pcols.isEmpty) live.repartition(nOut) else live
    Some(commitRewrite("compact", c, small, shaped))
  }

  /** Restore the table to an earlier version's contents as a NEW commit
    * (Delta RESTORE semantics): metadata-only — the commit re-references
    * the old version's files, so no data is copied or rewritten and the
    * full history (including the rolled-back versions) is preserved.
    * Restoring a version whose files were vacuumed fails loudly instead
    * of committing dangling references.
    */
  def restore(version: Int): Int = {
    require(versions().contains(version),
      s"restore: version $version does not exist at $tablePath")
    log.checkVacuumHorizon(version, "restore of")
    val c = readCommit(version)
    val missing = c.files.filterNot(f => fs.exists(new Path(s"$tablePath/$f")))
    if (missing.nonEmpty) sys.error(
      s"restore($version) references ${missing.length} vacuumed file(s) " +
        s"(e.g. ${missing.head}); the version is no longer reconstructible")
    // constraints are table DEFINITION, not content — they survive the
    // rollback (like Delta RESTORE, which leaves table properties alone),
    // so the restored CONTENT must be validated against the CURRENT set:
    // restoring a version that predates an addConstraint must not put
    // violating rows back silently (same existing-rows validation
    // addConstraint itself runs).
    val cons = constraints()
    checkConstraints(read(Some(version)), cons)
    val v = nextVersion
    // the restored version's column mapping travels with its files;
    // droppedPhys accumulates BOTH histories so a later evolution can
    // never re-bind a physical name that lives in either file set
    val curDropped = latestVersion().map(log.record(_).droppedPhys).getOrElse(Nil)
    // re-referenced files carry their ORIGINAL recorded meta forward —
    // the restored version's snapshot map has it, so the restore commit
    // stays status-probe-free
    log.writeCommit(Commit(v, "restore", c.files, c.schemaDdl, c.rows,
      System.currentTimeMillis(), constraints = cons,
      colMap = c.colMap,
      droppedPhys = (curDropped ++ c.droppedPhys).distinct,
      // partitioning travels with the restored files (immutable anyway);
      // properties are current DEFINITION — they survive the rollback
      // like constraints do
      pcols = c.pcols, props = properties()),
      metaHint = log.resolveSnap(version).meta)
    v
  }

  /** Delete data files referenced ONLY by versions older than the last
    * `retainVersions` (plus staging leftovers). Versions below the
    * resulting horizon stop being readable — and now fail LOUDLY with
    * the boundary in the message ([[checkVacuumHorizon]]) instead of a
    * raw missing-file scan error. Returns the number of files deleted.
    *
    * `minAgeMs` is Delta's retention-window defense for files that are
    * staged (or committed-by-rename) but not yet visible to this
    * vacuum's log read: a racing append's staged files and a retrying
    * rebase's already-staged files are younger than any sane window, so
    * they survive. The DEFAULT is a real retention window
    * ([[VersionedTable.DefaultVacuumMinAgeMs]], 7 days — Delta's own
    * default), so a caller who never reads this doc cannot lose a slow
    * in-flight append's staged files to a concurrent vacuum. Pass
    * `minAgeMs = 0` EXPLICITLY for the exact single-writer offline case
    * (tests, quiesced maintenance windows) where deleting just-written
    * orphans immediately is the point.
    */
  def vacuum(retainVersions: Int = 2,
             minAgeMs: Long = VersionedTable.DefaultVacuumMinAgeMs): Int = {
    val vs = versions()
    val keep = vs.takeRight(retainVersions)
    val referenced = keep.flatMap(readCommit(_).files).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val deletable = fs.listStatus(new Path(tablePath))
      .filter(_.getModificationTime <= cutoff)
      .map(_.getPath).filter { p =>
        val n = p.getName
        (n.endsWith(".parquet") && !referenced.contains(n)) ||
          n.startsWith("_stage-")
      }
    deletable.foreach(p => fs.delete(p, true))
    // Record the horizon ONLY when this vacuum actually destroyed data
    // some dropped version references — an append-only history (or a
    // minAgeMs run that kept everything) deletes nothing a snapshot
    // needs, and its old versions must STAY readable (Delta semantics:
    // time travel breaks when files are gone, not when a no-op vacuum
    // ran). Once a dropped version's file is deleted, everything below
    // the retention boundary is contractually dead — even a version
    // whose own files happen to survive via a later restore's
    // re-reference — because the loud-failure contract beats "works
    // until a scan 404s".
    val deletedNames = deletable.map(_.getName).toSet
    val droppedRefs = vs.filterNot(keep.contains)
      .flatMap(readCommit(_).files).toSet
    keep.headOption
      .filter(_ => keep.size < vs.size && droppedRefs.exists(deletedNames))
      .foreach(log.writeVacuumHorizon)
    deletable.length
  }

  /** The exact data-file list of version `v` (Delta's DESCRIBE DETAIL /
    * `inputFiles` shape) — lets callers prove file IDENTITY across
    * commits (a metadata-only commit re-references the same files; a
    * count-equal rewrite does not). */
  def commitFiles(v: Int): Seq[String] = readCommit(v).files

  /** (version, action, rows, fileCount) per commit, ascending. */
  def history(): Seq[(Int, String, Long, Int)] =
    versions().map { v =>
      val c = readCommit(v)
      (v, c.action, c.rows, c.files.length)
    }

  /** The commit log as a DataFrame — SQL-queryable table metadata
    * (versions, actions, row counts, file counts, commit times).
    */
  def historyDF(): DataFrame = {
    import spark.implicits._
    versions().map { v =>
      val c = readCommit(v)
      // txn_app/txn_batch: the streaming-sink delivery ledger — which
      // micro-batch landed this version ('' / -1 for non-stream commits)
      (c.version, c.action, c.rows, c.files.length, c.ts, c.txnApp, c.txnVer)
    }.toDF("version", "action", "rows", "n_files", "committed_at_ms",
      "txn_app", "txn_batch")
  }
}

object VersionedTable {
  /** The atomic-publish primitive the whole optimistic-concurrency
    * protocol rests on — Delta's LogStore contract, as a plug point:
    * publish `tmp`'s content at `dst`, returning false (and publishing
    * NOTHING) when `dst` already exists, atomically with respect to
    * every concurrent writer on any host. Implementations for stores
    * without native rename-if-absent (plain S3) arbitrate externally
    * (conditional put on a side table, a lease service, DynamoDB — the
    * S3DynamoDBLogStore design). Configure with
    * `spark.graft.lake.commitPublisher=<class>`; the class needs a
    * no-arg constructor. Implementations must be thread-safe (one
    * instance serves every commit of a table handle). */
  trait CommitPublisher {
    def publishIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean
  }

  /** Per-file metadata carried in the commit log's add actions (the
    * Delta `add.size`/`add.stats` shape): byte length and row count.
    * `size >= 0` always holds for entries surfaced by
    * [[VersionedTable.snapshotFileMeta]]; `rows` may be -1 when only
    * the length was recoverable (a re-reference of a file whose
    * original meta the log never carried). `mtime` is the wall-clock
    * timestamp of the commit that (re-)added the file — the value the
    * log-planned native scan surfaces as
    * `_metadata.file_modification_time` (r17 advice: synthetic statuses
    * returned epoch 0 there). It is stamped from the add record's own
    * `ts` on read (no commit-record format change); checkpoints persist
    * it per file so resolution from a checkpoint keeps the original add
    * time. -1 = unknown (legacy checkpoints, in-flight staging). */
  case class FileMeta(size: Long, rows: Long, mtime: Long = -1L)

  /** Above this many candidate files, or [[BloomDriverMaxBytes]] of
    * bloom sidecars, the bloom probe runs as a Spark job instead of on
    * the driver. 256 MB of base64 lines hold about 190 filters at the
    * 1 MB cap, or about 1600 sized for 100k rows. */
  private val BloomDriverMaxFiles = 4096
  private val BloomDriverMaxBytes = 256L << 20

  /** The most marked positions the deletion-vector overlay broadcasts
    * (a 32 MB map): the row-index filter read 16M rows 5.8× faster than
    * the anti-join with 1.5M positions marked and 10× faster with 4M
    * (SCALE.md, "DV overlay gears at 1.5M–4M marked positions"). */
  private val DvBroadcastMaxPositions = 4000000L

  /** Deletion-vector sidecar schema: deleted row positions by file. */
  private[lake] val DvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = true)))

  /** Default vacuum staged-file retention (7 days, Delta's own default):
    * files younger than this survive vacuum unless the caller opts into
    * `minAgeMs = 0` explicitly — the safe-by-default posture for
    * concurrent writers. */
  val DefaultVacuumMinAgeMs: Long = 7L * 24 * 3600 * 1000

  /** Reserved constraint-name prefix carrying NOT NULL declarations
    * (r19) — see [[VersionedTable.setNotNull]]. */
  val NotNullPrefix: String = "__notnull__"

  def apply(spark: SparkSession, path: String): VersionedTable =
    new VersionedTable(spark, path)

  def apply(spark: SparkSession, path: String, checkpointInterval: Int): VersionedTable =
    new VersionedTable(spark, path, checkpointInterval)
}
