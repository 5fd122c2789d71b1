package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.lake.{LogCodec, VersionedTable}

/** Structured Streaming SOURCE for the versioned lake — the trigger-
  * driven completion of [[graft.lake.ChangeFeedReader]]'s poll API:
  *
  * {{{
  *   spark.readStream.format("graft-lake")
  *     .option("maxFilesPerTrigger", 1000)      // admission control (default 1000)
  *     .option("maxBytesPerTrigger", 256000000) // optional: byte budget per batch
  *     .option("maxCommitsPerTrigger", 10)      // optional: cap versions per batch
  *     .option("startingVersion", 7)            // optional: feed from v7, no snapshot
  *     .load(tableDir)
  * }}}
  *
  * yields the table's row-level change feed (`_commit_version`,
  * `_change_type` columns — the [[VersionedTable.changesBetween]]
  * shape) as micro-batches, with OFFSETS CHECKPOINTED BY THE ENGINE.
  * Compose with an idempotent sink ([[VersionedTable.commitAppendIdempotent]]
  * keyed by `batchId`) for end-to-end exactly-once.
  *
  * BOUNDED micro-batches (the 100-TB admission-control story, Delta's
  * `maxFilesPerTrigger` shape):
  *  - the INITIAL SNAPSHOT is chunked: the offset carries a file INDEX
  *    into the snapshot's deterministic file list
  *    ([[VersionedTable.snapshotDataFiles]]), so a 100-TB bootstrap
  *    lands as many checkpointable batches of `maxFilesPerTrigger`
  *    files each — a mid-bootstrap failure resumes at the last chunk,
  *    never redoes the table;
  *  - a COMMIT BACKLOG (first trigger after a long outage) is split by
  *    a cumulative changed-file budget of `maxFilesPerTrigger` per
  *    batch (always ≥ 1 commit, so progress is guaranteed even past an
  *    oversized commit), and additionally by `maxCommitsPerTrigger`
  *    when set. Offsets stay whole versions in this phase — each batch
  *    boundary is a consistent table version.
  *
  * `startingVersion` / `startingTimestamp` (mutually exclusive) skip
  * the snapshot and start the change feed at that version (inclusive) /
  * the first commit at-or-after that instant — failing loudly at query
  * start when a vacuum already stranded the requested range
  * ([[VersionedTable.changeFeedFloor]]).
  *
  * Built on the V1 `Source` interface rather than a DataSourceV2
  * `MicroBatchStream` — deliberately, and for the same reason Delta
  * Lake's streaming source is a V1 `Source`: `getBatch` returns a
  * DataFrame, so the lake's own scan machinery (deletion-vector
  * overlays, column-mapping alignment, per-commit file pruning —
  * everything `changesBetween` already does) is reused verbatim. A V2
  * `PartitionReader` would have to re-implement parquet + DV + mapping
  * decode outside Catalyst. The reference's medallion
  * (`/root/reference/main.py:557,599`) polls in batch; this closes the
  * "lake as a live stream" gap on top of it.
  *
  * Scale posture: each micro-batch reads ONLY its chunk's files (the
  * incremental log drives the read — cost ∝ change, never table size),
  * and the per-batch DataFrame is a plain distributed parquet scan, so
  * a 1000-executor cluster parallelizes within the batch. Offsets are
  * O(1) JSON records.
  */
/** One registered format, both directions: `readStream.format
  * ("graft-lake")` streams a table's change feed OUT (see
  * [[GraftLakeSource]]); `writeStream.format("graft-lake")
  * .option("appId", ...).start(tableDir)` streams INTO a table with
  * exactly-once appends and no hand-written foreachBatch — each
  * micro-batch lands through
  * [[VersionedTable.commitAppendIdempotent]] keyed by the engine's
  * batch id, so a restart's re-delivered batch commits nothing (the
  * same ledger the foreachBatch pattern uses, now behind the format
  * string). Composing both gives lake → stream → lake with offsets
  * AND delivery idempotence carried entirely by the engine + commit
  * log. */
class GraftLakeSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", sys.error(
      "graft-lake source requires a table path: .load(<tableDir>)"))

  /** BATCH read behind the format string (see [[GraftLakeRelation]]):
    * `spark.read.format("graft-lake").load(dir)` ≡ `VersionedTable
    * .read()`, with optional `versionAsOf` / `timestampAsOf` time
    * travel and stats-pruning pushdown through `readWhere`. Also the
    * resolution target of `CREATE TABLE ... USING graft-lake`. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    def opt(k: String) = LakeOptions.opt(parameters, k)
    val spark = activeSession(sqlContext)
    val path = tablePath(parameters)
    if (opt("readChangeFeed").exists(_.trim.equalsIgnoreCase("true")))
      return changeFeedRelation(spark, path, parameters)
    if (opt("versionAsOf").nonEmpty && opt("timestampAsOf").nonEmpty)
      sys.error("graft-lake: versionAsOf and timestampAsOf are mutually exclusive")
    val byVersion = opt("versionAsOf").map(_.trim.toInt)
    val byTs = opt("timestampAsOf").map { raw =>
      val ms = LakeOptions.timestampMs(raw, "timestampAsOf")
      VersionedTable(spark, path).versionAt(ms).getOrElse(sys.error(
        s"graft-lake: no version committed at or before '$raw' at $path"))
    }
    // ALWAYS the bridge relation here — never a bare HadoopFsRelation:
    // this BaseRelation is what `CREATE TABLE ... USING graft-lake`
    // resolves to, and a HadoopFsRelation in that position is
    // INSERTABLE through Spark's generic file-source path (writes — and
    // for INSERT OVERWRITE, directory deletion — with no commit). The
    // bridge refuses inserts loudly; native-scan replanning of pure
    // reads happens in the extensions' query-tree rewrite
    // (GraftDmlRules) and inside VersionedTable.read itself.
    new GraftLakeRelation(spark, path, byVersion.orElse(byTs))
  }

  /** BATCH write behind the format string: `df.write.format
    * ("graft-lake").mode(...).save(dir)` lands as a versioned commit —
    * append/overwrite map to the lake's commit modes, ErrorIfExists
    * and Ignore honor the lake's notion of existence (any committed
    * version). */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = activeSession(sqlContext)
    val path = tablePath(parameters)
    val t = VersionedTable(spark, path)
    val exists = t.latestVersion().nonEmpty
    mode match {
      case SaveMode.Overwrite            => t.commitOverwrite(data)
      case SaveMode.Append if !exists    => t.commitOverwrite(data)
      case SaveMode.Append               => t.commitAppend(data)
      case SaveMode.ErrorIfExists if exists => sys.error(
        s"graft-lake: table already exists at $path (mode ErrorIfExists)")
      case SaveMode.ErrorIfExists        => t.commitOverwrite(data)
      case SaveMode.Ignore if exists     => ()
      case SaveMode.Ignore               => t.commitOverwrite(data)
    }
    new GraftLakeRelation(spark, path, None)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    ("graft-lake", GraftLakeSource.changeSchema(
      activeSession(sqlContext), tablePath(parameters)))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source =
    // reuse the schema the engine already obtained via sourceSchema —
    // no second log-head probe + snapshot-schema resolution at start
    new GraftLakeSource(activeSession(sqlContext), tablePath(parameters),
      schema, parameters)

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty, "graft-lake sink does not take " +
      "partitionBy — the lake prunes via file stats and Z-order")
    def opt(k: String) = LakeOptions.opt(parameters, k)
    val updateKeys = opt("updateKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (outputMode == OutputMode.Update())
      require(updateKeys.nonEmpty, "graft-lake sink in Update mode " +
        "requires .option(\"updateKeys\", \"k1,k2\"): each micro-batch " +
        "replaces exactly its keys' rows (file-scoped swap) — without " +
        "declared keys there is no sound scope. Complete mode needs none.")
    // r18: dynamic partition overwrite per micro-batch — the
    // late-arriving-reload pattern (each batch carries full corrected
    // partitions; the sink swaps exactly those partitions' files,
    // idempotently by (appId, batchId)). Append-mode only: it IS a
    // write-shape, not a changed-keys contract.
    val partitionReplace = opt("partitionOverwrite")
      .exists(_.trim.equalsIgnoreCase("dynamic"))
    if (partitionReplace)
      require(outputMode == OutputMode.Append(),
        "graft-lake sink: partitionOverwrite=dynamic composes with " +
          "Append mode (each batch carries whole partitions); use " +
          "Update/updateKeys for key-level changes")
    // r19 small-file hygiene: optimizeWrite coalesces each micro-batch
    // to ~targetRows-per-file; autoCompact additionally folds
    // accumulated small files every N batches (Delta's
    // optimizeWrite/autoCompact pair) — a month of micro-batches must
    // not leave 10⁵ tiny files for every future scan to open.
    val optimizeWrite = opt("optimizeWrite")
      .exists(_.trim.equalsIgnoreCase("true"))
    val targetRows = opt("optimizeWrite.targetRows").map { raw =>
      try raw.trim.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"optimizeWrite.targetRows must be a long, got '$raw'") }
    }.getOrElse(1000000L)
    val autoCompactEvery = opt("autoCompact.every").map { raw =>
      try raw.trim.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"autoCompact.every must be an int, got '$raw'") }
    }.getOrElse(if (opt("autoCompact").exists(_.trim.equalsIgnoreCase("true")))
      10 else 0)
    val autoCompactMinFiles = opt("autoCompact.minFiles").map { raw =>
      try raw.trim.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"autoCompact.minFiles must be an int, got '$raw'") }
    }.getOrElse(8)
    new GraftLakeSink(activeSession(sqlContext), tablePath(parameters),
      sinkAppId(parameters), outputMode, updateKeys, partitionReplace,
      optimizeWrite, targetRows, autoCompactEvery, autoCompactMinFiles)
  }

  /** The sink's txn-ledger identity. Two queries writing the SAME table
    * under one appId would share one batch-id ledger — whichever
    * query's ids lag gets silently no-opped, dropped data with no
    * error — so a shared hardcoded default is forbidden: the appId is
    * the user's explicit option, or is DERIVED from the query's
    * checkpoint location (unique per query by construction — the engine
    * refuses to share checkpoints), and otherwise fails loudly. */
  private def sinkAppId(parameters: Map[String, String]): String = {
    def opt(k: String) = LakeOptions.opt(parameters, k)
    opt("appId").orElse(opt("checkpointLocation").map(c =>
      s"graft-lake-sink@${c.stripSuffix("/")}")).getOrElse(sys.error(
      "graft-lake sink requires an explicit .option(\"appId\", ...) " +
        "(or a .option(\"checkpointLocation\", ...) to derive one): " +
        "distinct queries writing one table must not share a txn ledger"))
  }

  private def activeSession(sqlContext: SQLContext): SparkSession =
    sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext].sparkSession

  /** BATCH change-feed read (Delta's `readChangeFeed` option):
    *
    * {{{
    *   spark.read.format("graft-lake")
    *     .option("readChangeFeed", "true")
    *     .option("startingVersion", 3)        // or startingTimestamp
    *     .option("endingVersion", 7)          // optional; default head
    *     .load(dir)
    * }}}
    *
    * yields [[VersionedTable.changesBetween]]'s row-level feed
    * (`_commit_version`, `_change_type`) for versions
    * [startingVersion, endingVersion] — the same inclusive-start
    * contract and at-or-after timestamp resolution as the streaming
    * source, and the same loud failure below the vacuum horizon. Per
    * version only the files that changed hands are read, so a
    * downstream sync pays for the CHANGES, never the table. */
  private def changeFeedRelation(spark: SparkSession, path: String,
                                 parameters: Map[String, String]): BaseRelation = {
    def opt(k: String) = LakeOptions.opt(parameters, k)
    Seq("versionAsOf", "timestampAsOf").foreach { k =>
      if (opt(k).nonEmpty) sys.error(
        s"graft-lake: $k cannot combine with readChangeFeed — the feed " +
          "is already a version range (startingVersion/endingVersion)")
    }
    val table = VersionedTable(spark, path)
    val head = table.latestVersion().getOrElse(sys.error(
      s"graft-lake: no committed versions at $path"))
    val byVersion = opt("startingVersion").map(_.trim.toInt)
    val byTs = opt("startingTimestamp").map(raw =>
      GraftLakeSource.resolveStartingTimestamp(table, raw, "graft-lake"))
    if (byVersion.nonEmpty && byTs.nonEmpty) sys.error(
      "graft-lake: startingVersion and startingTimestamp are mutually " +
        "exclusive")
    val from = byVersion.orElse(byTs).getOrElse(sys.error(
      "graft-lake: readChangeFeed requires startingVersion or " +
        "startingTimestamp (the feed is a version range, not a snapshot)"))
    val to = opt("endingVersion").map(_.trim.toInt).getOrElse(head)
    if (to > head) sys.error(
      s"graft-lake: endingVersion $to is beyond the last commit " +
        s"(v$head) — a later version's log record does not exist yet")
    if (from < 0 || from > to) sys.error(
      s"graft-lake: invalid change-feed range [$from, $to]")
    val floor = table.changeFeedFloor()
    if (from < floor) sys.error(
      s"graft-lake: startingVersion $from is below the vacuum horizon " +
        s"($floor) — those versions' files are gone; start at $floor+")
    // changesBetween is (from, to] — shift for the inclusive-start option
    val changes = table.changesBetween(from - 1, to)
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = changes.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        changes.rdd
      override def toString: String = s"GraftLakeChangeFeed[$path v$from..v$to]"
    }
  }
}

/** The exactly-once streaming SINK behind `writeStream.format
  * ("graft-lake")`: every micro-batch is one idempotent lake commit
  * tagged (`appId`, engine batchId). The engine re-delivers whole
  * batches on restart/failover; the commit ledger makes the replay a
  * no-op — Delta's txn-keyed sink contract, for all three output
  * modes:
  *  - **Append**: a blind idempotent append — per-batch cost O(batch)
  *    at any table size, no snapshot read, no key merge;
  *  - **Complete**: each batch is the full result — an idempotent
  *    OVERWRITE ([[VersionedTable.commitOverwriteIdempotent]]), the
  *    natural landing for small streaming aggregations;
  *  - **Update**: each batch holds only the CHANGED keys' rows — landed
  *    as an idempotent FILE-scoped swap
  *    ([[VersionedTable.replaceFilesIdempotent]]) of exactly the files
  *    the batch's keys can touch, computed DISTRIBUTEDLY (r17): the
  *    batch's key frame joins the per-file min/max stats
  *    ([[VersionedTable.filesHitByKeys]]), the hit files' surviving
  *    rows are kept by a distributed null-safe anti-join, and the
  *    batch's rows are unioned in — ONE read + ONE write of the hit
  *    files, no driver-side key list, NO key-count cap (the r16 sink
  *    refused batches over 10k distinct keys because its scope was a
  *    collected predicate). Untouched keys' files are never read or
  *    rewritten — the Medallion fold's contract behind the format
  *    string.
  * Distinct queries writing the SAME table must set distinct `appId`s
  * (their batch-id sequences are independent). */
class GraftLakeSink(spark: SparkSession, path: String, appId: String,
                    outputMode: OutputMode = OutputMode.Append(),
                    updateKeys: Seq[String] = Nil,
                    partitionReplace: Boolean = false,
                    optimizeWrite: Boolean = false,
                    targetRows: Long = 1000000L,
                    autoCompactEvery: Int = 0,
                    autoCompactMinFiles: Int = 8)
    extends Sink {
  private val table = VersionedTable(spark, path)

  /** optimizeWrite: coalesce the batch to ⌈rows/targetRows⌉ files —
    * one extra count pass over the (cached) batch buys files sized for
    * scans instead of one file per shuffle partition. `coalesce`, not
    * `repartition`: bin-packing without a shuffle. */
  private def shaped(batchDf: DataFrame): DataFrame =
    if (!optimizeWrite) batchDf
    else {
      val cached = batchDf.cache()
      val n = math.max(1L, (cached.count() + targetRows - 1) / targetRows)
      cached.coalesce(math.min(n, Int.MaxValue.toLong).toInt)
    }

  /** autoCompact: every N batches, fold the table's accumulated small
    * files (hygiene, not correctness — a conflict or failure logs and
    * the stream continues; the next window retries). Replay-safe by
    * shape: a replayed compaction finds nothing small and no-ops. */
  private def maybeCompact(batchId: Long): Unit =
    if (autoCompactEvery > 0 && batchId > 0 && batchId % autoCompactEvery == 0)
      try table.compactSmallFiles(targetRows, autoCompactMinFiles)
      catch { case e: Exception =>
        System.err.println(s"[lake] sink auto-compact at batch $batchId " +
          s"skipped: ${e.getMessage}")
      }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // V1 sink contract: `data` is the engine's streaming-internal
    // frame — re-wrap its physical RDD as a batch DataFrame before
    // handing it to the lake writer (FileStreamSink/DeltaSink do the
    // same), or df.write refuses the streaming plan
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val batchDf = classicSpark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    outputMode match {
      case m if m == OutputMode.Append() && partitionReplace =>
        // dynamic partition overwrite per batch: swap exactly the
        // partitions the batch carries (file-identity for the rest),
        // replay-exact via the same (appId, batchId) ledger. An empty
        // batch no-ops (replacePartitions of nothing replaces nothing).
        if (!batchDf.isEmpty)
          table.replacePartitionsIdempotent(shaped(batchDf), appId, batchId)
        maybeCompact(batchId)
        ()
      case m if m == OutputMode.Append() =>
        table.commitAppendIdempotent(shaped(batchDf), appId, batchId)
        maybeCompact(batchId)
      case m if m == OutputMode.Complete() =>
        table.commitOverwriteIdempotent(shaped(batchDf), appId, batchId)
      case _ =>
        // Update: swap exactly the files the batch's keys touch. The
        // batch evaluates more than once (key-scope join + survivors +
        // staged write) — cache so the upstream micro-batch plan runs
        // once
        val cached = batchDf.cache()
        try {
          if (table.latestVersion().isEmpty) {
            // first-ever batch: the changed keys ARE the whole state
            table.commitOverwriteIdempotent(cached, appId, batchId)
            ()
          } else if (!cached.isEmpty) {
            val keysDf = cached.select(updateKeys.map(col): _*).distinct()
            // SMALL batches (the common streaming case) scope with a
            // collected key predicate evaluated driver-side against the
            // stats map — zero scope-side Spark jobs. The r17 distributed
            // scope (stats join + distinct + collect) is what removes the
            // key-count cap, but it costs a measured ~2× wall floor PER
            // MICRO-BATCH at typical update sizes (SCALE.md r18
            // adjudication); above 1000 keys it takes over, so there
            // is still NO cap — just a cheaper gear below it.
            val collectCap = 1000
            val smallKeys = keysDf.limit(collectCap + 1).collect()
            val hit =
              if (smallKeys.length > collectCap)
                table.filesHitByKeys(keysDf, updateKeys)
              else smallKeys.toSeq.map { r =>
                updateKeys.zipWithIndex
                  .map { case (k, i) => col(k) <=> lit(r.get(i)) }
                  .reduce(_ && _)
              }.reduceOption(_ || _)
                .map(table.candidateFiles(_)).getOrElse(Nil)
            if (hit.isEmpty) {
              // no existing file can hold these keys: pure insert
              table.commitAppendIdempotent(cached, appId, batchId)
              ()
            } else {
              val cur = table.readSnapshotFiles(hit)
              val outCols = cur.columns.toSeq
              // null-safe multi-column anti-join: SQL GROUP BY groups
              // null keys, so an Update batch can legitimately carry
              // them — a plain equi-join would fail to replace them
              val survivors = cur.as("c").join(keysDf.as("p"),
                updateKeys.map(k => col(s"c.$k") <=> col(s"p.$k"))
                  .reduce(_ && _), "left_anti")
                .select(outCols.map(col): _*)
              table.replaceFilesIdempotent(hit,
                survivors.unionByName(cached.select(outCols.map(col): _*)),
                appId, batchId)
              ()
            }
          }
        } finally { cached.unpersist(); () }
    }
    ()
  }

  override def toString: String =
    s"GraftLakeSink[$path, appId=$appId, mode=$outputMode]"
}

/** Option plumbing shared by the provider and the source — one
  * case-insensitive lookup and one timestamp grammar, so the surfaces
  * can't drift apart. */
private[graft] object LakeOptions {
  def opt(params: Map[String, String], k: String): Option[String] =
    params.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }

  /** 'yyyy-MM-dd[ T]HH:mm:ss[.fff]' or epoch millis → millis. */
  def timestampMs(raw: String, what: String): Long =
    try java.sql.Timestamp.valueOf(raw.trim.replace("T", " ")).getTime
    catch { case _: IllegalArgumentException =>
      try raw.trim.toLong catch { case _: NumberFormatException =>
        sys.error(s"graft-lake: $what must be " +
          s"'yyyy-MM-dd HH:mm:ss[.fff]' or epoch millis, got '$raw'") } }
}

object GraftLakeSource {
  /** The stream's schema: the table's CURRENT logical schema plus the
    * change-feed metadata columns. Fixed at query start (streaming
    * contract); a mid-stream schema evolution fails the query loudly on
    * the next batch's column mismatch rather than silently widening. */
  def changeSchema(spark: SparkSession, path: String): StructType = {
    val t = VersionedTable(spark, path)
    val v = t.latestVersion().getOrElse(sys.error(
      s"graft-lake source: no committed versions at $path"))
    StructType(t.read(Some(v)).schema.fields ++ Seq(
      StructField("_commit_version", IntegerType, nullable = false),
      StructField("_change_type", StringType, nullable = false)))
  }

  /** Offset position: `(version, index)`. `index == -1` ⇒ everything
    * through `version` is delivered (the steady state; every batch
    * boundary is a consistent table version). `index >= 0` ⇒ the
    * initial snapshot at `version` is delivered through its first
    * `index` files (chunked bootstrap in progress). Serialized
    * canonically so [[SerializedOffset]] string equality is exact —
    * and the steady state serializes as the BARE version long, the
    * pre-r16 format, so a checkpoint written by the old source
    * compares EQUAL to the same logical position (a JSON-shape change
    * would read as new data and push one spurious empty batch through
    * the sink on the first post-upgrade restart). */
  /** First version committed AT or AFTER the instant — Delta's
    * startingTimestamp contract, shared by the STREAMING source and
    * the batch `readChangeFeed` door so the two can't drift. An
    * instant after the last commit fails loudly (it is almost always
    * a typo, and the silent alternative is a feed that starts cleanly
    * and never emits anything). */
  private[graft] def resolveStartingTimestamp(table: VersionedTable,
                                              raw: String, ctx: String): Int = {
    val ms = LakeOptions.timestampMs(raw, "startingTimestamp")
    val sv = table.versionAt(ms - 1).map(_ + 1).getOrElse(0)
    val head = table.latestVersion().getOrElse(sys.error(
      s"$ctx: no committed versions at the table path"))
    if (sv > head) sys.error(
      s"$ctx: startingTimestamp '$raw' is after the last " +
        s"commit (v$head) — the feed would never emit; check the " +
        "timestamp or use startingVersion for a future start")
    sv
  }

  private[graft] def offsetJson(version: Int, index: Long): String =
    LogCodec.encodeOffset(version, index)

  private[graft] def parseOffset(o: OffsetV2): (Int, Long) = o match {
    case l: LongOffset => (l.offset.toInt, -1L)
    case other =>
      LogCodec.decodeOffset(other.json).getOrElse(sys.error(
        s"graft-lake: unparseable offset ${other.json.trim}"))
  }
}

class GraftLakeSource(spark: SparkSession, path: String,
                      providedSchema: Option[StructType] = None,
                      options: Map[String, String] = Map.empty)
    extends Source with SupportsTriggerAvailableNow {
  import GraftLakeSource._

  private val table = VersionedTable(spark, path)

  private def opt(k: String): Option[String] = LakeOptions.opt(options, k)
  private def intOpt(k: String): Option[Int] = opt(k).map { raw =>
    val v = try raw.trim.toInt catch { case _: NumberFormatException =>
      sys.error(s"graft-lake source: option $k must be an integer, got '$raw'") }
    if (v <= 0) sys.error(s"graft-lake source: option $k must be > 0, got $v")
    v
  }

  /** Per-trigger admission control, Delta's default: at most this many
    * files per micro-batch — chunking the initial snapshot AND bounding
    * a commit backlog by its cumulative changed-file count. */
  private val maxFilesPerTrigger: Int =
    intOpt("maxFilesPerTrigger").getOrElse(1000)
  /** Optional additional cap: at most this many commit VERSIONS per
    * micro-batch in the steady state. */
  private val maxCommitsPerTrigger: Option[Int] = intOpt("maxCommitsPerTrigger")
  /** Optional byte-budget cap (Delta's `maxBytesPerTrigger`), composing
    * with the files/commits caps — whichever budget exhausts first ends
    * the batch. File sizes come from the commit log's recorded add-
    * action meta (r17), so the budget is pure log metadata: exact on
    * new-format logs; files a pre-meta commit added count 0 bytes
    * (admission control, never correctness — the files cap still
    * bounds those). Always admits at least one file / one commit, so
    * an oversized single file or commit still makes progress. */
  private val maxBytesPerTrigger: Option[Long] = opt("maxBytesPerTrigger")
    .map { raw =>
      val v = try raw.trim.toLong catch { case _: NumberFormatException =>
        sys.error(s"graft-lake source: option maxBytesPerTrigger must be " +
          s"an integer byte count, got '$raw'") }
      if (v <= 0) sys.error(
        s"graft-lake source: option maxBytesPerTrigger must be > 0, got $v")
      v
    }

  /** Feed start (inclusive version), resolved once at query start;
    * None = bootstrap from the current snapshot (Delta's default). */
  private val startingVersion: Option[Int] = {
    val byVersion = opt("startingVersion").map { raw =>
      try raw.trim.toInt catch { case _: NumberFormatException =>
        sys.error(s"graft-lake source: startingVersion must be an " +
          s"integer, got '$raw'") }
    }
    val byTs = opt("startingTimestamp").map(raw =>
      GraftLakeSource.resolveStartingTimestamp(table, raw,
        "graft-lake source"))
    if (byVersion.nonEmpty && byTs.nonEmpty) sys.error(
      "graft-lake source: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    val sv = byVersion.orElse(byTs)
    sv.foreach { v =>
      if (v < 0) sys.error(s"graft-lake source: startingVersion must be " +
        s">= 0, got $v")
      val floor = table.changeFeedFloor()
      if (v < floor) sys.error(
        s"graft-lake source: startingVersion $v is below the vacuum " +
          s"horizon — replaced files of vacuumed versions are gone; the " +
          s"earliest streamable version is $floor (or drop the option to " +
          s"bootstrap from the current snapshot, which needs no history)")
    }
    sv
  }

  override val schema: StructType = providedSchema
    .getOrElse(GraftLakeSource.changeSchema(spark, path))

  /** Rate-limit position: the highest offset handed to the engine so
    * far. Re-seeded on restart by the V1 contract — MicroBatchExecution
    * replays the last logged batch's `getBatch(start, end)` BEFORE the
    * first `getOffset` ("certain sources assume on restart the last
    * batch will be executed before getOffset is called again"), so this
    * is always initialized from the checkpoint before it gates new
    * offsets. LakeSourceSpec's kill/restart-mid-backlog row pins it. */
  private var lastReturned: Option[(Int, Long)] = None

  // ordering key: within a version, -1 (complete) ranks above any index
  private def rank(o: (Int, Long)): (Int, Long) =
    (o._1, if (o._2 < 0) Long.MaxValue else o._2)
  private def bump(o: (Int, Long)): Unit =
    if (!lastReturned.exists(p => Ordering[(Int, Long)].gteq(rank(p), rank(o))))
      lastReturned = Some(o)

  /** The snapshot file list is deterministic per version (sorted unique
    * names), so caching it is pure memoization — and a restarted source
    * recomputes the identical list from the log. Sizes ride along
    * (log-recorded; 0 for pre-meta files) for the byte budget. */
  private var snapshotCache: Option[(Int, Seq[String], Seq[Long])] = None
  private def snapshotEntry(v: Int): (Seq[String], Seq[Long]) = snapshotCache match {
    case Some((cv, fs, sz)) if cv == v => (fs, sz)
    case _ =>
      val fs = table.snapshotDataFiles(Some(v))
      val meta = table.snapshotFileMeta(Some(v))
      val sz = fs.map(f => meta.get(f).map(m => math.max(0L, m.size)).getOrElse(0L))
      snapshotCache = Some((v, fs, sz)); (fs, sz)
  }
  private def snapshotFiles(v: Int): Seq[String] = snapshotEntry(v)._1

  /** End index of a bootstrap chunk starting at snapshot-file `from`:
    * admit files while BOTH budgets hold (always at least one). */
  private def chunkEnd(v: Int, from: Long): Long = {
    val (files, sizes) = snapshotEntry(v)
    val byteCap = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var i = from.toInt
    var nFiles = 0
    var bytes = 0L
    while (i < files.size && nFiles < maxFilesPerTrigger &&
           (nFiles == 0 || bytes + sizes(i) <= byteCap)) {
      bytes += sizes(i); nFiles += 1; i += 1
    }
    i.toLong
  }

  /** Trigger.AvailableNow's frozen end-of-run target: everything
    * committed as of query start. The engine then runs BOUNDED batches
    * (it passes [[getDefaultReadLimit]] each trigger) until the source
    * stops advancing — which [[nextOffset]] guarantees by clamping to
    * this cap — and terminates. Without [[SupportsTriggerAvailableNow]]
    * Spark would wrap a plain rate-limited V1 source and pin its FIRST
    * bounded offset as the whole run's target: one chunk delivered,
    * the rest of the backlog silently skipped. */
  // outer None = not an AvailableNow run; Some(None) = prepared on a
  // table with no commits yet, which must deliver NOTHING — an
  // unwrapped Option couldn't tell that apart from "no cap", leaving
  // the run unbounded exactly when a concurrent writer starts
  private var availableNowCap: Option[Option[Int]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.latestVersion())

  /** The per-trigger admission unit the engine echoes back on every
    * normal trigger. Trigger.Once instead passes ReadAllAvailable —
    * one batch, caps ignored (Kafka's and Delta's documented Once
    * behavior). */
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxFiles(maxFilesPerTrigger)

  /** Admission-controlled offset discovery (the engine prefers this
    * over [[getOffset]] once [[SupportsTriggerAvailableNow]] is
    * implemented): `startOffset` is the previous end, so rate-limit
    * progress needs no source-side position state. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val base = Option(startOffset).map(parseOffset)
    val next = nextOffset(base, unbounded = limit.isInstanceOf[ReadAllAvailable])
    next.foreach(bump)
    next.map(o => SerializedOffset(offsetJson(o._1, o._2))).orNull
  }

  /** Legacy V1 offset discovery (kept for direct callers; the engine
    * uses [[latestOffset]]): bounded steps from the highest offset
    * handed out so far. */
  override def getOffset: Option[OffsetV1] = {
    val next = nextOffset(lastReturned, unbounded = false)
    next.foreach(bump)
    next.map(o => SerializedOffset(offsetJson(o._1, o._2)))
  }

  /** Next offset after `base`, or None when caught up. An
    * O(log-metadata) probe: the log head, plus per-commit changed-file
    * counts for the backlog budget — never a file listing or data
    * read. `unbounded` skips the per-trigger caps (Trigger.Once);
    * either way the result never passes the AvailableNow cap. */
  private def nextOffset(base: Option[(Int, Long)],
                         unbounded: Boolean): Option[(Int, Long)] = {
    val headOpt = table.latestVersion().flatMap { h =>
      availableNowCap match {
        case None            => Some(h)              // normal trigger run
        case Some(Some(cap)) => Some(math.min(h, cap))
        case Some(None)      => None // empty at AvailableNow start: done
      }
    }
    headOpt.flatMap { head =>
      base match {
        case None =>
          startingVersion match {
            case Some(sv) =>
              // no snapshot: the feed starts at version sv (inclusive)
              if (head < sv) None
              else if (unbounded) Some((head, -1L))
              else Some((boundedEnd(sv - 1, head), -1L))
            case None =>
              val files = snapshotFiles(head)
              if (unbounded) Some((head, -1L))
              else {
                val end = chunkEnd(head, 0L)
                Some(if (end >= files.size) (head, -1L) else (head, end))
              }
          }
        case Some((v, i)) if i >= 0 =>
          // mid-bootstrap: finish chunking the snapshot at v before
          // consuming commits (they are diffs against it)
          val files = snapshotFiles(v)
          val ni = if (unbounded) files.size.toLong else chunkEnd(v, i)
          Some(if (ni >= files.size) (v, -1L) else (v, ni))
        case Some((v, _)) =>
          if (head <= v) None
          else if (unbounded) Some((head, -1L))
          else Some((boundedEnd(v, head), -1L))
      }
    }
  }

  /** End version for a commit-phase batch starting after `from`: walk
    * forward while the cumulative changed-file count stays within
    * `maxFilesPerTrigger`, the cumulative changed bytes within
    * `maxBytesPerTrigger` (when set — log-recorded sizes, O(1) per
    * version), and the version count within `maxCommitsPerTrigger` —
    * always at least one version, so an oversized single commit still
    * makes progress (it is one transaction; splitting it would expose
    * a non-version boundary). */
  private def boundedEnd(from: Int, head: Int): Int = {
    val capCommits = maxCommitsPerTrigger.getOrElse(Int.MaxValue)
    var v = from + 1
    var fileBudget = maxFilesPerTrigger.toLong - table.commitChangedFileCount(v)
    var byteBudget = maxBytesPerTrigger
      .map(_ - table.commitChangedBytes(v)).getOrElse(Long.MaxValue)
    while (v < head && (v - from) < capCommits) {
      val nf = table.commitChangedFileCount(v + 1)
      val nb = if (maxBytesPerTrigger.isEmpty) 0L
               else table.commitChangedBytes(v + 1)
      if (fileBudget - nf < 0 || byteBudget - nb < 0) return v
      fileBudget -= nf
      byteBudget -= nb
      v += 1
    }
    v
  }

  /** The rows of offsets `(start, end]`:
    *  - bootstrap chunks — snapshot files `[i, j)` at the pinned
    *    version, surfaced as inserts tagged with it (Delta's
    *    starting-snapshot behavior, deliberately NOT a history replay:
    *    a replay would resurrect deletes through insert-only sinks,
    *    cost O(all mutations ever) and fail on vacuumed tables);
    *  - steady state — exactly [[VersionedTable.changesBetween]];
    * re-tagged `isStreaming` so the engine accepts it as a micro-batch.
    */
  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val (ev, ei) = parseOffset(end)
    bump((ev, ei)) // restart contract: re-seed the rate-limit position
    val changes: DataFrame = (start.map(parseOffset), startingVersion) match {
      case (None, Some(sv)) =>
        table.changesBetween(sv - 1, ev)
      case (None, None) =>
        snapshotChunk(ev, 0L, if (ei < 0) Long.MaxValue else ei)
      case (Some((v, i)), _) if i >= 0 =>
        if (ev != v) sys.error(s"graft-lake source: bootstrap offsets " +
          s"must chunk one version (start v$v file $i, end v$ev)")
        snapshotChunk(v, i, if (ei < 0) Long.MaxValue else ei)
      case (Some((v, _)), _) =>
        if (ev == v) snapshotChunk(v, 0L, 0L) // same-offset replay: empty
        else table.changesBetween(v, ev)
    }
    val aligned = changes.select(schema.fieldNames.map(col).toSeq: _*) // pin order
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classicSpark.internalCreateDataFrame(
      aligned.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** Snapshot files `[from, until)` at version `v` as insert rows. */
  private def snapshotChunk(v: Int, from: Long, until: Long): DataFrame = {
    val files = snapshotFiles(v)
    val hi = math.min(until, files.size.toLong).toInt
    val chunk = if (from >= hi) Seq.empty[String]
                else files.slice(from.toInt, hi)
    table.readSnapshotFiles(chunk, Some(v))
      .withColumn("_commit_version", lit(v))
      .withColumn("_change_type", lit("insert"))
  }

  override def stop(): Unit = ()
}
