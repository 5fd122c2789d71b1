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
  * state is written repartitioned by bucket so every bucket lives in
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
  * a delete that ties-or-beats a group's stored extremum triggers a
  * recompute of JUST that group from the Silver snapshot at the
  * consumed version (a keyed semi-join rescan, cost proportional to
  * the affected groups, never the table).
  *
  * @param goldStateFiles target file count for the Gold state's
  *   bucket-aligned layout: state writes hash-repartition by bucket
  *   into this many partitions (EXPLICIT count — AQE would otherwise
  *   coalesce a small refresh into one file and the next refresh's
  *   bucket pruning would have nothing to skip). See the sizing
  *   contract above.
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
    silverCursor.poll().map { case (changes0, head) =>
      val alreadyLanded =
        silver.lastCommittedBatch("silver").exists(_ >= head.toLong)
      if (!alreadyLanded) {
        // Which legs can the polled range possibly carry? A pure-log-
        // record decision (r20): an append-only range provably has no
        // delete rows, a pure-delete range no inserts — the skipped
        // leg's jobs never run (zero cluster round trips for the
        // common append-only sync's delete leg at any scale).
        val (mayIns, mayDel) = silverCursor.table.changeTypesPossible(from, head)
        val changes = changes0.cache()
        try {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*)
            .orderBy(desc("_commit_version"),
              when(col("_change_type") === "insert", 1).otherwise(0).desc)
          val finals = changes.withColumn("_g_rk", row_number().over(w))
            .filter(col("_g_rk") === 1).drop("_g_rk")
          if (mayDel)
            silver.deleteMoR(clean(changes.filter(col("_change_type") === "delete")
                .drop("_commit_version", "_change_type"))
              .select(keys.map(col): _*), keys)
          if (mayIns)
            silver.appendNonEmptyIdempotent(
              clean(finals.filter(col("_change_type") === "insert")
                .drop("_commit_version", "_change_type")),
              "silver", head.toLong)
        } finally changes.unpersist()
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
    * Algorithm, change-proportional at every step:
    *  1. batch partials: one keyed aggregation over the polled change
    *     rows — signed n/vsum, plus insert-side and delete-side min/max;
    *  2. `touched` = the partials' distinct buckets (an O(touched)
    *     driver list — the same dynamic-partition-overwrite accounting
    *     Delta does);
    *  3. prior state from ONLY the files whose stats intersect those
    *     buckets (one read, survivors included — they pass through the
    *     fold untouched) full-outer-joins the partials: n/vsum fold
    *     algebraically; min/max tighten from inserts for free, and a
    *     group whose delete-side extremum ties-or-beats its candidate
    *     min/max is flagged for rescan — conservative, never wrong: the
    *     rescan recomputes truth;
    *  4. flagged groups recompute min/max from the Silver snapshot AS OF
    *     the consumed version (a broadcast semi-join — cost ∝ affected
    *     groups' rows, and consistent with the n/vsum fold even if
    *     Silver has moved past `head` meanwhile);
    *  5. the new state for the hit files (touched buckets' groups plus
    *     their file-sharing survivors) lands via
    *     [[VersionedTable.replaceFilesIdempotent]], repartitioned by
    *     bucket so the state files stay bucket-aligned for the NEXT
    *     refresh's pruning. Groups netting to zero drop out; files the
    *     touched buckets don't reach are never read or rewritten.
    */
  def refreshGoldStats(bucket: Column, key: Column,
                       value: Column): Option[GoldRefresh] = {
    fastForward(gold, "gold", goldCursor)
    goldCursor.poll().map { case (changes0, head) =>
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
        val parts = changes0
          .groupBy(bucket.as("bucket"), key.as("key"))
          .agg(sum(sign).as("_pn"), sum(value * sign).as("_pvsum"),
            min(when(isIns, value)).as("_ins_min"),
            max(when(isIns, value)).as("_ins_max"),
            min(when(not(isIns), value)).as("_del_min"),
            max(when(not(isIns), value)).as("_del_max"))
          .cache()
        try {
          // one driver round-trip for all the batch metadata: the
          // touched buckets (collect_set skips nulls — count them
          // separately), and whether any delete carried a non-null
          // value (only then can a min/max rescan ever be needed)
          val meta = parts.agg(
            collect_set(col("bucket")).as("_bks"),
            sum(when(col("bucket").isNull, 1L).otherwise(0L)).as("_nullb"),
            max(col("_del_min").isNotNull || col("_del_max").isNotNull)
              .as("_mayRescan")).head()
          val hasNullBucket = !meta.isNullAt(1) && meta.getLong(1) > 0
          val touched: Seq[Any] = meta.getSeq[Any](0) ++
            (if (hasNullBucket) Seq(null) else Nil)
          val mayRescan = !meta.isNullAt(2) && meta.getBoolean(2)
          if (touched.nonEmpty) {
            // null-SAFE bucket scope: isin() is null-blind, so a batch
            // whose bucket expression yields NULL for some rows would
            // otherwise neither read the prior null-bucket state nor
            // pass the replaceWhere scope check — wedging the refresh
            val nonNull = touched.filterNot(_ == null)
            val inNonNull =
              if (nonNull.nonEmpty) col("bucket").isin(nonNull: _*) else lit(false)
            val bucketScope =
              if (hasNullBucket) inNonNull || col("bucket").isNull
              else inNonNull
            val empty = parts.select(col("bucket"), col("key"),
              col("_pn").as("n"), col("_pvsum").as("vsum"),
              col("_ins_min").as("vmin"), col("_ins_max").as("vmax")).limit(0)
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
              case Some(_) => (gold.candidateFiles(bucketScope),
                gold.snapshotDataFiles().size)
            }
            // STRICT >: at crossover = 1.0 even an every-file hit
            // stays on the scoped path, matching the "≥ 1 never
            // falls back" contract above
            val fullRewrite = totalFiles > 0 &&
              hitFiles.size > totalFiles * goldRefreshCrossover
            val cur = gold.latestVersion() match {
              case None                 => empty
              case Some(_) if fullRewrite => gold.read()
              case Some(_)              => gold.readSnapshotFiles(hitFiles)
            }
            // NULL-SAFE group join: bucket/key may legitimately be null
            // (SQL GROUP BY groups nulls), and a plain equi-join would
            // fail to fold a null group's prior state with its partial
            val j = cur.as("c").join(parts.as("p"),
              col("c.bucket") <=> col("p.bucket") &&
                col("c.key") <=> col("p.key"), "full_outer")
            val candMin = least(col("c.vmin"), col("p._ins_min"))
            val candMax = greatest(col("c.vmax"), col("p._ins_max"))
            // a deleted value that ties-or-beats the candidate extremum
            // MAY have been the extremum — recompute that group. least/
            // greatest skip nulls, so insert-only groups never flag.
            val rescan =
              (col("p._del_min").isNotNull &&
                (candMin.isNull || col("p._del_min") <= candMin)) ||
              (col("p._del_max").isNotNull &&
                (candMax.isNull || col("p._del_max") >= candMax))
            val merged = j.select(
              coalesce(col("c.bucket"), col("p.bucket")).as("bucket"),
              coalesce(col("c.key"), col("p.key")).as("key"),
              (coalesce(col("c.n"), lit(0L)) + coalesce(col("p._pn"), lit(0L)))
                .as("n"),
              (coalesce(col("c.vsum"), lit(0)) + coalesce(col("p._pvsum"), lit(0)))
                .as("vsum"),
              candMin.as("vmin"), candMax.as("vmax"),
              coalesce(rescan, lit(false)).as("_rescan"))
              .filter(col("n") > 0)
            // a rescan is only POSSIBLE when the batch deleted a row
            // with a non-null value (mayRescan, from the metadata agg) —
            // insert-only refreshes skip the flagged-count job entirely
            if (mayRescan) merged.cache()
            try {
              val flagged = merged.filter(col("_rescan"))
                .select("bucket", "key")
              val nRescan = if (mayRescan) flagged.count() else 0L
              val state =
                if (nRescan == 0)
                  merged.drop("_rescan")
                else {
                  // truth for the flagged groups: Silver AS OF the
                  // consumed version, keyed semi-join (flagged is tiny —
                  // broadcast), one aggregation over just their rows.
                  // Null-safe joins throughout: a flagged group's
                  // bucket/key may be null.
                  val re = silver.read(Some(head))
                    .select(bucket.as("bucket"), key.as("key"),
                      value.as("_v")).as("s")
                    .join(broadcast(flagged).as("f"),
                      col("s.bucket") <=> col("f.bucket") &&
                        col("s.key") <=> col("f.key"), "left_semi")
                    .groupBy("bucket", "key")
                    .agg(min("_v").as("_rmin"), max("_v").as("_rmax"))
                  merged.as("m")
                    .join(broadcast(re).as("r"),
                      col("m.bucket") <=> col("r.bucket") &&
                        col("m.key") <=> col("r.key"), "left_outer")
                    .select(col("m.bucket").as("bucket"),
                      col("m.key").as("key"), col("n"), col("vsum"),
                      when(col("_rescan"), col("_rmin")).otherwise(col("vmin"))
                        .as("vmin"),
                      when(col("_rescan"), col("_rmax")).otherwise(col("vmax"))
                        .as("vmax"))
                }
              // bucket-aligned files: the NEXT refresh's stats pruning
              // depends on each file covering few buckets. The partition
              // count is bounded by what THIS refresh replaces — k hit
              // files come back as ~k files (a one-bucket refresh stages
              // one file, not goldStateFiles mostly-empty shuffle
              // tasks) — EXCEPT on the full-rewrite path, whose output
              // is the ENTIRE state and must respect the sizing contract
              // regardless of how few buckets triggered it
              val aligned = state.repartition(
                if (fullRewrite) goldStateFiles
                else math.max(1, math.min(goldStateFiles,
                  math.max(touched.size, hitFiles.size))),
                col("bucket"))
              gold.latestVersion() match {
                case None => gold.commitOverwriteIdempotent(
                  aligned, "gold", head.toLong)
                case Some(_) if fullRewrite => gold.commitOverwriteIdempotent(
                  aligned, "gold", head.toLong)
                case Some(_) => gold.replaceFilesIdempotent(
                  hitFiles, aligned, "gold", head.toLong)
              }
              goldCursor.advance(head)
              GoldRefresh(head, touched, nRescan)
            } finally { if (mayRescan) merged.unpersist(); () }
          } else {
            // a metadata-only / netted-empty range: nothing to fold
            goldCursor.advance(head)
            GoldRefresh(head, Seq.empty, 0L)
          }
        } finally parts.unpersist()
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
