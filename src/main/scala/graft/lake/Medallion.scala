package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's Bronze→Silver→Gold medallion
  * (`/root/reference/main.py:599→622→635`) run INCREMENTALLY: each
  * downstream layer consumes its upstream's change feed
  * ([[ChangeFeedReader]]) instead of re-scanning it — at 100 TB the
  * daily Silver/Gold refresh reads only the commits since its cursor,
  * megabytes instead of the table.
  *
  * Exactly-once end to end, by composing two idempotence mechanisms
  * with the at-least-once cursor:
  *  - Silver refresh applies upstream DELETES first (a deletion-vector
  *    delete keyed on the change rows, [[VersionedTable.deleteMoR]] —
  *    a replay finds the keys already hidden by the overlay and commits
  *    nothing), then appends the cleaned INSERTS tagged (`"silver"`,
  *    consumed Bronze version) in the
  *    [[VersionedTable.commitAppendIdempotent]] ledger — a replayed
  *    batch no-ops on the txn marker. Silver's deletes therefore reach
  *    Gold's change feed as vector-marked rows (a read of the targeted
  *    files), never as a file rewrite to diff;
  *  - Gold folds SIGNED algebraic partials (insert = +1, delete = −1 —
  *    count/sum form a GROUP, so DV deletes and rewrites maintain
  *    exactly, not just monoid appends) into a BUCKET-PARTITIONED state
  *    table via [[VersionedTable.replaceFilesIdempotent]] tagged
  *    (`"gold"`, consumed Silver version), swapping exactly the state
  *    FILES whose stats intersect the batch's touched buckets.
  * A crash between any apply and its cursor advance re-delivers the
  * version range; both appliers commit nothing on the replay
  * (MedallionSpec drives exactly that interleaving).
  *
  * Gold refresh cost is CHANGE-proportional in both directions: the
  * poll reads only the new commits' files, and the state apply reads +
  * rewrites only the FILES holding the batch's touched buckets (the
  * state is written range-partitioned by bucket so every bucket lives in
  * exactly one file, and file min/max stats prune the replaceWhere
  * pre-scan — Delta's dynamic partition overwrite, expressed through
  * data skipping). The unit of refresh I/O is therefore the FILE, and
  * `goldStateFiles` is the operator's sizing lever exactly like a
  * partition count: at S bytes of state a one-bucket refresh reads and
  * rewrites ~S/goldStateFiles bytes, so size goldStateFiles to your
  * file-size target (128 MB–1 GB each) as the state grows — the same
  * contract hive-partitioned overwrites have with partition sizing.
  * With files held at a fixed size, refresh cost stays FLAT as total
  * state grows (SCALE.md "Bucket-partitioned Gold: refresh cost ~FLAT
  * as state grows 10×", round 15).
  *
  * Aggregates maintained: n / vsum (avg = vsum/n at read) — plain
  * signed-group algebra — plus vmin / vmax with the standard
  * incremental-view rescan fallback: inserts tighten min/max for free;
  * a delete that ties-or-beats a group's stored extremum makes that
  * group take its min/max from the Silver snapshot at the consumed
  * version, read in the same fold for just the buckets a valued delete
  * reached (cost proportional to those buckets' rows, never the
  * table).
  *
  * @param goldStateFiles target file count for the Gold state's
  *   bucket-aligned layout: state writes range-partition by bucket
  *   into at most this many partitions, and into one per bucket when
  *   the written state holds fewer buckets (EXPLICIT count — AQE would
  *   otherwise coalesce a small refresh into one file and the next
  *   refresh's bucket pruning would have nothing to skip). See the
  *   sizing contract above.
  * @param goldRefreshCrossover the hit-file fraction above which a
  *   Gold refresh abandons the FILE-scoped path
  *   ([[VersionedTable.replaceFilesIdempotent]]: read the hit files
  *   once, fold, swap exactly those files — survivors ride through by
  *   identity) for a plain idempotent overwrite. The scoped path's
  *   cost is ≈ hit-fraction × the overwrite's (one read + one write of
  *   hit files vs of all files; the fold join is shared and smaller),
  *   plus a metadata-only stats probe — so it pays almost to hit =
  *   total. Measured (4M-group state, SCALE.md "Gold refresh goes
  *   FILE-granular", round 16): a half-the-buckets batch hits 62% of
  *   files and runs 0.66–0.79× of the forced-overwrite wall; a
  *   one-bucket batch reads 1 of 205 files at a flat ~1s regardless of
  *   state size. The default 0.9 falls back only when nearly every
  *   file is hit anyway — there the overwrite is strictly simpler AND
  *   re-balances the state into `goldStateFiles` fresh files. 0 forces
  *   the full overwrite every refresh (the measurement baseline);
  *   ≥ 1 never falls back.
  */
final class Medallion(spark: SparkSession, root: String,
                      goldStateFiles: Int = 32,
                      goldRefreshCrossover: Double = 0.9) {
  val bronze = VersionedTable(spark, s"$root/bronze")
  val silver = VersionedTable(spark, s"$root/silver")
  val gold   = VersionedTable(spark, s"$root/gold")
  val silverCursor = new ChangeFeedReader(bronze, s"$root/_silver_cursor.json")
  val goldCursor   = new ChangeFeedReader(silver, s"$root/_gold_cursor.json")

  /** Bronze ingest: a plain versioned append (the reference's
    * `mode="append"` Bronze write, now with commit history). */
  def ingest(df: DataFrame): Int =
    bronze.latestVersion() match {
      case None    => bronze.commitOverwrite(df)
      case Some(_) => bronze.commitAppend(df)
    }

  /** Incrementally refresh Silver: consume Bronze changes since the
    * cursor; `clean` maps raw change rows to the Silver schema (it
    * must preserve `keys`, Silver's identity columns, which must also
    * exist on the raw Bronze rows). Returns the consumed Bronze
    * version, None when already caught up.
    *
    * The polled range is NETTED to a final state per key before
    * applying (a key inserted at v1 and deleted at v3 within one range
    * produces nothing; an update's delete+insert pair produces exactly
    * the newest image, never a duplicate row): rank each key's change
    * rows by (version desc, insert-over-delete) and keep the top one.
    * Application order is crash-safe at every point:
    *  1. if Silver's txn ledger already records this range's marker,
    *     the whole batch landed before a crash — skip straight to the
    *     cursor advance (a replayed delete leg must never touch the
    *     rows its own insert leg added);
    *  2. delete leg: every key that appears with a delete ANYWHERE in
    *     the range (tombstones AND the old images of updates) is marked
    *     in one deletion vector ([[VersionedTable.deleteMoR]] by keys,
    *     no data file rewritten) — replays find the keys already hidden
    *     by the overlay, mark nothing and commit nothing;
    *  3. insert leg: the netted final images append exactly-once via
    *     the (appId="silver", batchId=consumed version) marker; a leg
    *     that stages no row commits nothing (no emptiness probe — the
    *     staged footers answer it).
    */
  def refreshSilver(clean: DataFrame => DataFrame,
                    keys: Seq[String]): Option[Int] = {
    fastForward(silver, "silver", silverCursor)
    val from = silverCursor.lastProcessed()
    silverCursor.poll().map { case (changes, head) =>
      val alreadyLanded =
        silver.lastCommittedBatch("silver").exists(_ >= head.toLong)
      if (!alreadyLanded) {
        // Which legs can the polled range possibly carry? A pure-log-
        // record decision (r20): an append-only range provably has no
        // delete rows, a pure-delete range no inserts — the skipped
        // leg's jobs never run (zero cluster round trips for the
        // common append-only sync's delete leg at any scale).
        val (mayIns, mayDel) = silverCursor.table.changeTypesPossible(from, head)
        // The two legs read the change feed once each, uncached: the
        // delete leg's `_change_type` filter prunes the feed's insert
        // branches at planning. A `cache()` of the feed costs a job and
        // a columnar build with its own generated classes per refresh,
        // against a re-read of change-sized files (the refresh measured
        // 7 jobs and 30 code-cache entries with it, 4 and 20 without).
        if (mayDel)
          silver.deleteMoR(clean(changes.filter(col("_change_type") === "delete")
              .drop("_commit_version", "_change_type"))
            .select(keys.map(col): _*), keys)
        if (mayIns) {
          // When no delete in the range comes after an insert (the
          // common round: deletes, then the next append), a delete row
          // can never rank above an insert of its key, so the insert
          // rows alone net to the same finals and the feed's delete
          // branches drop out of this leg's plan.
          val kinds = ((from + 1) to head).map(v =>
            v -> silverCursor.table.changeTypesPossible(v - 1, v))
          val lastDel = kinds.collect { case (v, (_, true)) => v }.maxOption
          val firstIns = kinds.collect { case (v, (true, _)) => v }.minOption
          val ranked =
            if (lastDel.forall(d => firstIns.forall(d <= _)))
              changes.filter(col("_change_type") === "insert")
            else changes
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*)
            .orderBy(desc("_commit_version"),
              when(col("_change_type") === "insert", 1).otherwise(0).desc)
          val finals = ranked.withColumn("_g_rk", row_number().over(w))
            .filter(col("_g_rk") === 1).drop("_g_rk")
          silver.appendNonEmptyIdempotent(
            clean(finals.filter(col("_change_type") === "insert")
              .drop("_commit_version", "_change_type")),
            "silver", head.toLong)
        }
      }
      silverCursor.advance(head)
      head
    }
  }

  /** The ledger-over-cursor replay guard: the txn ledger is the DURABLE
    * record of what landed, the cursor file only an optimization over
    * it — so every refresh starts by fast-forwarding the cursor to the
    * ledger. Without this, a crash between the idempotent apply and the
    * cursor advance, followed by NEW upstream commits before the retry,
    * makes the next poll span (staleCursor, newHead]: batchId = newHead
    * passes the `>= head` ledger check and the already-applied prefix
    * would double-apply (double-counted n/vsum in Gold, duplicate
    * insert-leg rows in Silver). Fast-forwarded, the poll can never
    * include an already-committed range. MedallionSpec drives exactly
    * this interleaving. */
  private def fastForward(layer: VersionedTable, appId: String,
                          cursor: ChangeFeedReader): Unit =
    layer.lastCommittedBatch(appId).foreach { b =>
      if (b > cursor.lastProcessed()) cursor.advance(b.toInt)
    }

  /** Incrementally refresh Gold: fold Silver's changes since the
    * cursor into the (bucket, key) → (n, vsum, vmin, vmax) state.
    * Returns the consumed Silver version, None when already caught up.
    * See [[refreshGoldStats]] for the full contract. */
  def refreshGold(bucket: Column, key: Column, value: Column): Option[Int] =
    refreshGoldStats(bucket, key, value).map(_.consumedVersion)

  /** [[refreshGold]] with the refresh's scale-proof observables: which
    * buckets the batch touched (= the replaceWhere scope; everything
    * else's files survive by identity) and how many groups needed the
    * min/max delete-rescan (0 on insert-only batches).
    *
    * Algorithm, change-proportional at every step, in two actions:
    *  1. batch metadata: the distinct (bucket, a delete there carried a
    *     non-null value) pairs of the polled change rows, collected
    *     without a shuffle ([[org.apache.spark.sql.graft.DistinctCollect]])
    *     from the fold's own change projection, so step 2 reuses its
    *     generated classes: the touched buckets (an O(touched) driver
    *     list, the same dynamic-partition-overwrite accounting Delta
    *     does) and the buckets where a delete carried a value (only
    *     their groups can ever need a min/max rescan);
    *  2. one fold, written as the new state: the prior state of ONLY
    *     the files whose stats intersect the touched buckets (survivors
    *     included — they pass through the fold untouched), the change
    *     rows as signed partials, and — when a delete carried a value —
    *     Silver's rows AS OF the consumed version in those buckets
    *     (consistent with the n/vsum fold even if Silver has moved past
    *     `head` meanwhile), all unioned in one row shape, range-
    *     partitioned by bucket and grouped by (bucket, key). n/vsum
    *     fold algebraically; min/max tighten from inserts for free, and
    *     a group whose delete-side extremum ties-or-beats its candidate
    *     min/max takes its rescanned Silver min/max instead —
    *     conservative, never wrong. The range partitioning is the
    *     fold's only shuffle: it keeps every bucket in one state file
    *     for the NEXT refresh's pruning (each file a contiguous bucket
    *     range, so its min/max stats prune tightly), writes no empty
    *     partition when the state holds fewer buckets than
    *     `goldStateFiles`, and the grouping inherits it. Groups netting
    *     to zero drop out; files the touched buckets don't reach are
    *     never read or rewritten. The new state lands via
    *     [[VersionedTable.replaceFilesIdempotent]], and the rescanned
    *     group count is an accumulator the same write fills
    *     ([[org.apache.spark.sql.graft.CountWhere]]; an observed metric
    *     measured two more generated stages, its node breaking the
    *     write's whole-stage span).
    * On the benchmark's medallion round a refresh runs 4 jobs (the
    * metadata collect, the range partitioner's sample, the fold's map
    * stage and the write) and compiles 16 generated classes; a cached
    * partials table, a full outer join with the state and a counted,
    * cached fold measured 12 jobs and 39 classes.
    */
  def refreshGoldStats(bucket: Column, key: Column,
                       value: Column): Option[GoldRefresh] = {
    fastForward(gold, "gold", goldCursor)
    goldCursor.poll().map { case (changes, head) =>
      if (gold.lastCommittedBatch("gold").exists(_ >= head.toLong)) {
        // CROSS-PROCESS second chance: the in-process replay window is
        // closed by fastForward above (cursor >= ledger before every
        // poll), but a CONCURRENT refresher can land this range between
        // our fast-forward and this check — skip straight to the cursor
        goldCursor.advance(head)
        GoldRefresh(head, Seq.empty, 0L)
      } else {
        val isIns = col("_change_type") === "insert"
        val sign = when(isIns, lit(1L)).otherwise(lit(-1L))
        // the fold's rows, one shape for every source and every
        // refresh (a first refresh with no prior state and one
        // without a rescan source compile the same fold): _n and
        // _sv/_pv sum to n and vsum, _lo/_hi bound the candidate
        // min/max, _del carries deleted values, _rv the rescanned
        // Silver values. The change rows carry typed nulls for the
        // columns only other sources fill; unionByName null-fills
        // the rest.
        val signed = changes.select(bucket.as("bucket"), key.as("key"),
          sign.as("_n"), (value * sign).as("_pv"),
          when(isIns, value).as("_lo"), when(isIns, value).as("_hi"),
          when(not(isIns), value).as("_del"))
        val partials = signed.select(col("*"),
          lit(null).cast(signed.select(sum("_pv")).schema.head.dataType).as("_sv"),
          lit(null).cast(signed.schema("_del").dataType).as("_rv"))
        // one driver round-trip for all the batch metadata: the distinct
        // (bucket, a delete there carried a non-null value) pairs — a
        // null bucket is a value like any other — collected without a
        // shuffle from the fold's own change rows, so the fold's write
        // reuses this action's generated classes
        val meta = org.apache.spark.sql.graft.DistinctCollect(partials,
          col("bucket"), col("_del").isNotNull)
        val touched: Seq[Any] = meta.map(_.get(0)).distinct
        val rescanBuckets: Seq[Any] = meta.filter(_.getBoolean(1)).map(_.get(0))
        if (touched.isEmpty) {
          // a metadata-only / netted-empty range: nothing to fold
          goldCursor.advance(head)
          GoldRefresh(head, Seq.empty, 0L)
        } else {
          // null-SAFE bucket scope: isin() is null-blind, so a batch
          // whose bucket expression yields NULL for some rows would
          // otherwise neither read the prior null-bucket state nor
          // pass the replaceWhere scope check — wedging the refresh
          def scope(b: Column, bks: Seq[Any]): Column = {
            val nonNull = bks.filterNot(_ == null)
            val in = if (nonNull.nonEmpty) b.isin(nonNull: _*) else lit(false)
            if (bks.contains(null)) in || b.isNull else in
          }
          // FILE-granular scope (round 16, was a bucket-scoped
          // replaceWhere behind a touched ≥ files/2 fallback): ask
          // the stats layer WHICH state files the touched buckets hit
          // (O(log metadata)), read those files ONCE — every row,
          // including survivor buckets that merely share a file with
          // a touched one: they flow through the fold untouched (no
          // partial joins to them) and are re-included in the
          // replacement content — and land via replaceFilesIdempotent,
          // which swaps exactly those files. One read + one write of
          // the hit files, where the predicate path (replaceWhere)
          // paid ~three reads for its pre-scan + kept-rows machinery
          // (measured 1.5× SLOWER than a full overwrite at
          // half-the-buckets; the file path measures 0.66–0.79× at a
          // 62% hit fraction, SCALE.md "Gold refresh goes
          // FILE-granular", r16). The plain overwrite remains the
          // fallback when the hit FRACTION crosses
          // `goldRefreshCrossover` — at that point reading the rest
          // of the state costs less than the scope bookkeeping.
          val (hitFiles, totalFiles) = gold.latestVersion() match {
            case None => (Seq.empty[String], 0)
            case Some(_) => (gold.candidateFiles(scope(col("bucket"), touched)),
              gold.snapshotDataFiles().size)
          }
          // STRICT >: at crossover = 1.0 even an every-file hit
          // stays on the scoped path, matching the "≥ 1 never
          // falls back" contract above
          val fullRewrite = totalFiles > 0 &&
            hitFiles.size > totalFiles * goldRefreshCrossover
          val prior = gold.latestVersion().map { _ =>
            (if (fullRewrite) gold.read() else gold.readSnapshotFiles(hitFiles))
              .select(col("bucket"), col("key"), col("n").as("_n"),
                col("vsum").as("_sv"), col("vmin").as("_lo"), col("vmax").as("_hi"))
          }
          // truth for the groups a delete may have stripped of their
          // extremum: Silver AS OF the consumed version, in just the
          // buckets a valued delete reached. Its rows join the fold as
          // they are: a per-group pre-aggregation before the fold's
          // shuffle adds a stage, two aggregate bodies and their
          // projections per refresh, against shuffling three narrow
          // columns of the rescanned buckets' rows.
          val rescan = if (rescanBuckets.isEmpty) None else Some(
            silver.read(Some(head))
              .select(bucket.as("bucket"), key.as("key"), value.as("_rv"))
              .filter(scope(col("bucket"), rescanBuckets)))
          val rows = (prior.toSeq ++ rescan).foldLeft(partials)(
            _.unionByName(_, allowMissingColumns = true))
          // bucket-aligned files: the NEXT refresh's stats pruning
          // depends on each file covering few buckets. The partition
          // count is bounded by what THIS refresh replaces — k hit
          // files come back as ~k files (a one-bucket refresh stages
          // one file, not goldStateFiles mostly-empty shuffle
          // tasks) — EXCEPT on the full-rewrite path, whose output
          // is the ENTIRE state and must respect the sizing contract
          // regardless of how few buckets triggered it. Range, not
          // hash, partitioning: the partitioner's sample bounds the
          // partitions by the buckets present, where a hash
          // partitioning wrote goldStateFiles tasks for a state of a
          // few buckets (a steady refresh of the benchmark round took
          // 370 ms with it, 210 ms with the range partitioner's
          // sampling job).
          val nParts =
            if (fullRewrite) goldStateFiles
            else math.max(1, math.min(goldStateFiles,
              math.max(touched.size, hitFiles.size)))
          val candMin = min("_lo")
          val candMax = max("_hi")
          val delMin = min("_del")
          val delMax = max("_del")
          // a deleted value that ties-or-beats the candidate extremum
          // MAY have been the extremum — take that group's rescanned
          // truth. Insert-only groups never flag (null _del), and
          // without a rescan source no delete carried a value.
          val flagged = coalesce(
            (delMin.isNotNull && (candMin.isNull || delMin <= candMin)) ||
              (delMax.isNotNull && (candMax.isNull || delMax >= candMax)),
            lit(false))
          val rescanned = spark.sparkContext.longAccumulator("gold rescanned groups")
          val state = rows.repartitionByRange(nParts, col("bucket"))
            .groupBy("bucket", "key")
            .agg(coalesce(sum("_n"), lit(0L)).as("n"),
              (coalesce(sum("_sv"), lit(0)) + coalesce(sum("_pv"), lit(0))).as("vsum"),
              when(flagged, min("_rv")).otherwise(candMin).as("vmin"),
              when(flagged, max("_rv")).otherwise(candMax).as("vmax"),
              flagged.as("_rescan"))
            .filter(col("n") > 0)
            .filter(org.apache.spark.sql.graft.CountWhere.column(col("_rescan"), rescanned))
            .drop("_rescan")
          gold.latestVersion() match {
            case Some(_) if !fullRewrite =>
              gold.replaceFilesIdempotent(hitFiles, state, "gold", head.toLong)
            case _ => gold.commitOverwriteIdempotent(state, "gold", head.toLong)
          }
          // (a write a concurrent refresher fenced runs nothing and
          // counts nothing)
          val nRescan = rescanned.sum
          goldCursor.advance(head)
          GoldRefresh(head, touched, nRescan)
        }
      }
    }
  }

  /** Read-time finalization of the Gold state (avg from partials). */
  def goldView(): DataFrame =
    gold.read().select(col("bucket"), col("key"), col("n"), col("vsum"),
      (col("vsum") / col("n")).as("vavg"), col("vmin"), col("vmax"))
}

/** One Gold refresh's scale-proof observables: the consumed Silver
  * version, the buckets the batch touched, and how many groups needed
  * the min/max delete-rescan. */
case class GoldRefresh(consumedVersion: Int, touchedBuckets: Seq[Any],
                       rescannedGroups: Long)
