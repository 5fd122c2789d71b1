package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming shapes for the engine (SURVEY.md §2.8): the
  * reference's poll-append-watermark loop expressed as real streams.
  *
  * All transforms take an unbounded DataFrame (from `readStream`) and
  * return one — sources/sinks stay at the edges so the same logic is
  * testable with MemoryStream (StreamingSpec) and runnable against a
  * file/kafka source in production.
  *
  * Scale notes: state stores are keyed by (group, window) — bounded by
  * the watermark delay; dropDuplicates state is bounded the same way.
  * Shuffle partitioning = `spark.sql.shuffle.partitions` per micro-batch.
  */
object EventStreams {

  /** Tumbling-window counts with late-data tolerance: the streaming
    * equivalent of q_watermark_daily. Append-mode compatible (windows
    * close once the watermark passes).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "10 minutes",
                     lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("total_value"))

  /** Stream-static enrichment + event-time rollup: the stream is joined
    * to a STATIC dimension (broadcast — the dim never enters streaming
    * state, Spark re-reads/broadcasts it per micro-batch) and aggregated
    * per (day, segment). Unmatched users keep their events under
    * 'UNKNOWN' (left join — an enrich must never drop facts). Works
    * identically on a batch frame, which is how q_stream_enrich
    * oracle-checks it; the streaming path (withWatermark upstream,
    * append/update sink) is asserted in StreamingSpec.
    */
  def enrichedSegmentDaily(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .select(col("ts"), col("value"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("day"),
        col("segment"), col("n_events"), col("total_value"))

  /** Streaming dedup within the watermark horizon — the streaming
    * realization of the reference's insert-only MERGE (re-delivered ids
    * are dropped; state expires with the watermark).
    */
  def dedupWithinWatermark(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicates("event_id")

  /** Streaming CONTENT dedup: the LLM-pipeline parity of
    * [[dedupWithinWatermark]] — re-posts of the same text under a fresh
    * id are dropped, keyed on the per-row minhash content signature
    * ([[graft.llm.Dedup.contentSignature]]) instead of the event id.
    * State = one long per distinct content within the watermark horizon,
    * checkpointed like any dropDuplicates state (the restart test pins
    * that a dup arriving after recovery is still dropped). Batch parity
    * is oracle-checked by q_dedup_content_sig (keep-min-id over the same
    * signature).
    */
  def dedupByContentSignature(docs: DataFrame,
                              lateness: String = "10 minutes",
                              shingleN: Int = 3,
                              numHashes: Int = 8): DataFrame =
    docs
      .withColumn("content_sig",
        graft.llm.Dedup.contentSignature(col("text"), shingleN, numHashes))
      .withWatermark("ts", lateness)
      .dropDuplicates("content_sig")

  /** Session windows per user (30-minute gap), streaming-native. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long,
                              total_value: Double)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * escape hatch when `session_window` can't express the state machine
    * (e.g. value-dependent gaps, session caps, mid-session emission).
    * Here it re-implements gap-based sessions so StreamingSpec can assert
    * it agrees with the native operator.
    *
    * State per user is one open session (4 fields — O(users) total, not
    * O(events)); an event-time timeout at `end + gap` closes and emits
    * the session once the watermark passes it, exactly like
    * `session_window`'s append-mode semantics.
    */
  def statefulSessionAgg(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                         lateness: String = "10 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    def out(user: Long, s: SessionState) = SessionOut(user,
      new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end + gapMs),
      s.n, s.total)
    events.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(out(user, s))
          } else {
            // Micro-batch arrival order is not time order: sort the batch.
            val evs = it.toIndexedSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= out(user, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Timeout must sit past the current watermark; an already-
              // expired session closes at the next watermark advance.
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding `horizon`. Both sides carry
    * watermarks and the join condition bounds event time on both ends —
    * the requirements for Spark to age out join state (otherwise
    * state grows forever).
    */
  def clicksLeadingToPurchase(clicks: DataFrame, purchases: DataFrame,
                              horizon: String = "30 minutes",
                              lateness: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Left-outer stream-stream interval join: every purchase emits, with
    * its preceding-click match or — once the click-side watermark has
    * passed the purchase's join window, proving no match can still
    * arrive — a null click. The outer row is emitted by the state-store
    * eviction pass, so result timing is governed by watermark movement,
    * not batch arrival: the replay-safe way to ask "which purchases had
    * no preceding engagement" on an unbounded stream.
    */
  def purchasesWithOptionalClick(clicks: DataFrame, purchases: DataFrame,
                                 horizon: String = "30 minutes",
                                 lateness: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
      "leftOuter")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Full-outer stream-stream interval join — the last join shape in the
    * family (inner: [[clicksLeadingToPurchase]], left-outer:
    * [[purchasesWithOptionalClick]]): every purchase emits with its
    * preceding-click matches or a null click, AND every click that led
    * to no purchase within the forward horizon emits with a null
    * purchase. Both null emissions are watermark-driven state evictions
    * — an unmatched row leaves the store (and emits) only once the
    * OTHER side's watermark proves no partner can still arrive, so
    * neither side's state grows beyond the horizon. Same condition as
    * the siblings, so the batch-equivalence oracle is a plain FULL
    * JOIN with the interval predicate (q_interval_join_full).
    */
  def clickPurchaseFullOuter(clicks: DataFrame, purchases: DataFrame,
                             horizon: String = "30 minutes",
                             lateness: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("p_user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
      "fullOuter")
      .select(coalesce(col("p_user_id"), col("c_user_id")).as("user_id"),
        col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Streaming → lake sink: each micro-batch lands via the insert-only
    * merge (`graft.lake.Merge`), so replayed batches (restarts,
    * re-delivery) never duplicate rows — the streaming realization of
    * the reference's append + when_not_matched_insert_all story, with
    * exactly-once-per-key layers instead of its duplicating append.
    */
  def writeToLayer(events: DataFrame, targetPath: String, keys: Seq[String],
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.lake.Merge.insertOnlyMerge(batch.sparkSession, batch.toDF(), targetPath, keys)
      }
      .start()

  /** Streaming → versioned lake table: every micro-batch lands as an
    * insert-only merge COMMIT on a [[graft.lake.VersionedTable]] — replay
    * safety from the key merge, plus an auditable version per batch and
    * time travel across batches (what the reference's delta-rs append
    * gave it, minus the duplicate rows its append-only mode produced).
    * Batch columns the table lacks are projected away, as in every
    * merge; evolve the table with an explicit append first.
    */
  def writeToVersioned(events: DataFrame, targetPath: String, keys: Seq[String],
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.lake.VersionedTable(batch.sparkSession, targetPath)
          .insertOnlyMerge(batch.toDF(), keys): Unit
      }
      .start()

  /** Streaming → versioned lake, exactly-once WITHOUT keys: every
    * micro-batch lands via [[graft.lake.VersionedTable.commitAppendIdempotent]]
    * tagged (`appId`, `batchId`). `foreachBatch` re-runs whole batches on
    * restart/failover with the SAME batchId; the tag is written atomically
    * inside the commit record (Delta's txn action), so a replayed batch
    * detects its committed id and commits nothing — no key columns, no
    * anti-join against the snapshot, no content assumptions. This is the
    * production medallion Bronze loop: blind appends at event-volume
    * scale where a per-batch key merge (O(snapshot) read) would be the
    * bottleneck, with the table's commit log doubling as the
    * batch-delivery ledger. Use [[writeToVersioned]] when upstream
    * re-delivers the same ROWS across DIFFERENT batches — that needs the
    * key merge; this sink makes batch REPLAY exact.
    */
  def writeToVersionedExactlyOnce(events: DataFrame, targetPath: String,
                                  appId: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.lake.VersionedTable(batch.sparkSession, targetPath)
          .commitAppendIdempotent(batch.toDF(), appId, batchId): Unit
      }
      .start()

  final case class UserRunningTotals(user_id: Long, n_events: Long,
                                     total_value: Double)

  /** Spark 4 `transformWithState` processor: per-user running event
    * count + value total in a `ValueState`, one updated row emitted per
    * key per micro-batch — the arbitrary-state successor to
    * `flatMapGroupsWithState` (no mandatory timeout plumbing, typed
    * state handles, RocksDB-backed). State is O(users): two numbers per
    * key, so a 100 TB replay holds state proportional to the key space,
    * never the event volume.
    */
  final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), UserRunningTotals] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timerValues: TimerValues): Iterator[UserRunningTotals] = {
      var (n, total) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { case (_, v) => n += 1; total += v }
      totals.update((n, total))
      Iterator.single(UserRunningTotals(key, n, total))
    }
  }

  /** Per-user running totals via `transformWithState` (update mode).
    * Requires the RocksDB state store provider — callers set
    * `spark.sql.streaming.stateStore.providerClass` before starting.
    */
  def runningTotals(events: DataFrame): Dataset[UserRunningTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final case class KmvSketch(hashes: Seq[Long])
  final case class KmvEstimate(group: String, estimate: Long, k_used: Int)

  /** Streaming approximate distinct-count: a k-minimum-values sketch per
    * group held in state — the streaming face of q_kmv_union's merge
    * property. State is ≤k longs per group FOREVER (an exact streaming
    * distinct would hold O(distinct keys)), each micro-batch update is
    * the same associative re-min merge the batch sketch tree uses, and
    * hashing is md5 (no RNG state) so recovery/replay produces the
    * identical sketch. Emits the refreshed estimate per touched group
    * each micro-batch (update mode): exact (= k_used) while the sketch
    * is unsaturated, (k−1)·2³² / max(h) after.
    */
  def kmvDistinct(rows: DataFrame, groupCol: String, keyCol: String,
                  k: Int = 256): Dataset[KmvEstimate] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col(groupCol).cast("string").as("g"),
        graft.llm.Dedup.md5Int(col(keyCol).cast("string")).as("hv"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[KmvSketch, KmvEstimate](GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, Long)], state: GroupState[KmvSketch]) =>
          val prev = state.getOption.map(_.hashes).getOrElse(Seq.empty)
          val merged = (prev.iterator ++ it.map(_._2))
            .toArray.distinct.sorted.take(k).toSeq
          state.update(KmvSketch(merged))
          val est =
            if (merged.length < k) merged.length.toLong
            else math.floor((k - 1) * 4294967296.0 / merged.last).toLong
          KmvEstimate(g, est, merged.length)
      }
  }
}
