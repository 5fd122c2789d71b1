package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Incremental consumption FROM the versioned lake — the read-side
  * counterpart of the exactly-once streaming SINK
  * (`graft.streaming.EventStreams`): Delta's `readChangeFeed` /
  * streaming-source shape rebuilt on [[VersionedTable.changesBetween]].
  *
  * A consumer tracks its last-processed version in a tiny atomic state
  * file (the `Watermark` pattern: temp + `ATOMIC_MOVE`, so the cursor
  * is never torn). Each [[poll]] returns exactly the row-level changes
  * of commits NEWER than the cursor — `_commit_version` +
  * `_change_type` columns, deletion-vector-aware (a MoR delete
  * surfaces precisely its marked rows), cost proportional to the
  * CHANGE, never the table (the incremental log's add/remove lists
  * drive the read). [[advance]] moves the cursor only when the caller
  * says so, AFTER it has durably applied the batch — the at-least-once
  * contract; pair the apply with an idempotent writer (e.g.
  * [[VersionedTable.commitAppendIdempotent]] keyed by the consumed
  * version) for end-to-end exactly-once, which is exactly what
  * [[Medallion]] does.
  *
  * At 100 TB this is the difference between a downstream layer
  * re-scanning Bronze daily and reading megabytes per sync: the poll
  * reads only the files that changed hands since the cursor. One
  * consumer per state file (single-writer cursor — run N consumers
  * with N state files).
  */
final class ChangeFeedReader(val table: VersionedTable, statePath: String) {

  /** Last version this consumer fully processed; -1 = never polled.
    * A PRESENT-but-malformed cursor file fails loudly: silently
    * resetting to -1 would replay the entire feed into the downstream
    * appliers — idempotence would absorb it, but a hand-edited or
    * corrupted cursor is an operational fault the operator must see,
    * not a full-table re-read they must pay. */
  def lastProcessed(): Int = {
    val p = Paths.get(statePath)
    if (!Files.exists(p)) -1
    else {
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      LogCodec.decodeVersion(text).getOrElse(sys.error(
        s"ChangeFeedReader: cursor file $statePath exists but holds no " +
          s"""parseable {"version":N} — refusing to silently replay """ +
          s"the whole feed; fix or delete the cursor (content: " +
          s"${text.take(200)})"))
    }
  }

  /** Row-level changes in (lastProcessed, head], with the head version
    * to hand to [[advance]] after applying; None when the cursor is
    * already at the table head (or the table has no commits). A crash
    * between apply and advance re-delivers the same range on the next
    * poll — by design.
    */
  def poll(): Option[(DataFrame, Int)] =
    table.latestVersion().flatMap { head =>
      val from = lastProcessed()
      if (head <= from) None
      else Some((table.changesBetween(from, head), head))
    }

  /** Persist the cursor at `toVersion` (atomic, monotonic — a stale
    * advance from a replayed batch is a no-op, never a rewind). */
  def advance(toVersion: Int): Unit = {
    if (toVersion <= lastProcessed()) return
    LakeLog.replaceLocal(Paths.get(statePath), LogCodec.encodeVersion(toVersion))
  }

  /** poll → apply → advance in one call: `fn` sees (changes, head);
    * the cursor moves only if `fn` returns normally. Returns the new
    * cursor position, None when already caught up. */
  def process(fn: (DataFrame, Int) => Unit): Option[Int] =
    poll().map { case (changes, head) =>
      fn(changes, head)
      advance(head)
      head
    }
}
