package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** S1–S3: the reference's incremental-extraction watermark
  * (`metadata_ingestion.json`; read `/root/reference/main.py:19-38`,
  * derive `main.py:41-56`, update `main.py:59-76`).
  *
  * Differences by design:
  *  - The reference's update seeks to offset 0 and dumps without
  *    truncating — a shorter JSON would leave trailing garbage
  *    (`main.py:73-75`). We write to a temp file and atomically move it
  *    into place instead.
  *  - The reference *records* the watermark but never reads it back to
  *    filter extraction (SURVEY.md §0.2). `predicate` makes the watermark
  *    actually usable as a batch high-water-mark filter; the recorded-only
  *    behavior is just "never call predicate".
  *
  * Format kept JSON-compatible with the reference:
  * `{"<table>": {"incremental_column": c, "last_value": v}}`.
  * In Structured Streaming this whole store is superseded by
  * `withWatermark` + checkpointing (see `graft.streaming.EventStreams`).
  */
final case class WatermarkEntry(incrementalColumn: String, lastValue: String)

final class Watermark(path: String) {

  /** Every table's entry; a store that does not parse fails naming
    * the file, so an update never silently drops the other tables. */
  def readAll(): Map[String, WatermarkEntry] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else LogCodec.decodeWatermarks(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8), path)
  }

  /** S1: entry for one table; the reference raises on a missing table —
    * so do we. */
  def get(table: String): WatermarkEntry =
    readAll().getOrElse(table,
      throw new NoSuchElementException(s"no watermark entry for table '$table'"))

  /** S3: upsert one table's last_value, atomically (temp file + move). */
  def update(table: String, entry: WatermarkEntry): Unit = {
    LakeLog.replaceLocal(Paths.get(path),
      LogCodec.encodeWatermarks(readAll() + (table -> entry)))
  }

  /** Batch high-water-mark predicate: `col > last_value` as a SQL string
    * usable in `df.filter` — the "actually consumed" watermark the
    * reference intends but never wires up.
    */
  def predicate(table: String): String = {
    val e = get(table)
    s"${e.incrementalColumn} > '${e.lastValue}'"
  }
}

object Watermark {
  /** S2: derive the new watermark value from an HTTP-date string
    * (`'%a, %d %b %Y %H:%M:%S %Z'` → `'%Y-%m-%d %H:%M:%S'`,
    * `/root/reference/main.py:51-53`) — pure JVM, used at the ingest edge.
    */
  def fromHttpDate(httpDate: String): String = {
    val in = java.time.format.DateTimeFormatter
      .ofPattern("EEE, dd MMM yyyy HH:mm:ss zzz", java.util.Locale.US)
    val ts = java.time.ZonedDateTime.parse(httpDate, in)
    ts.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }
}
