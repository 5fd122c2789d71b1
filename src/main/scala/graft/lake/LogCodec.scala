package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{IntNode, LongNode, NullNode, ObjectNode, TextNode}

import VersionedTable.FileMeta

/** The JSON of every lake metadata file, in one place: commit records
  * `v{N}.json`, checkpoints, `_last_checkpoint`, `_vacuum_horizon`,
  * stats and bloom sidecar lines, the conditional-put arbiter entry,
  * `graft-lake` source offsets, the change-feed cursor and the
  * watermark store. Readers parse a Jackson tree, so a user-chosen
  * property or constraint name can never be mistaken for a record
  * field, and field order carries no meaning.
  *
  * Writers emit compact JSON with a fixed field order and standard
  * escaping (quote, backslash and control characters). Older builds
  * escaped only quote and backslash, so their files may hold raw
  * control characters inside strings; the reader accepts those. */
object LogCodec {

  private val mapper =
    JsonMapper.builder().enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** The physical commit record: file deltas vs version - 1. `full`
    * marks a legacy record whose `add` is the COMPLETE file list
    * (applied as replace). `dvTargets` (delete-dv commits) names the
    * data files the commit's deletion vectors mark rows in. `addMeta`
    * holds each added file's size and row count (Delta's `add.size` /
    * `stats`), so a read plans its scan from the log alone; bare-name
    * records decode with none. The schema, `constraints`, `colMap`
    * (sparse logical→physical overlay), `droppedPhys`, `pcols` and
    * `props` are the table definition, carried in full on every record. */
  final case class CommitRecord(version: Int, action: String, add: Seq[String],
                                remove: Seq[String], schemaDdl: String,
                                rows: Long, ts: Long, full: Boolean = false,
                                txnApp: String = "", txnVer: Long = -1L,
                                dvTargets: Seq[String] = Nil,
                                constraints: Seq[(String, String)] = Nil,
                                colMap: Seq[(String, String)] = Nil,
                                droppedPhys: Seq[String] = Nil,
                                addMeta: Map[String, FileMeta] = Map.empty,
                                pcols: Seq[String] = Nil,
                                props: Seq[(String, String)] = Nil)

  // ---- writing ----------------------------------------------------------

  /** A JSON object with fields in the given order. Values are strings,
    * numbers, `None` (null), string sequences or nested nodes. */
  private def obj(fields: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }
  private def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case s: String => TextNode.valueOf(s)
    case i: Int => IntNode.valueOf(i)
    case l: Long => LongNode.valueOf(l)
    case None => NullNode.instance
    case Some(x) => node(x)
    case xs: Seq[_] => mapper.createArrayNode().addAll(xs.map(node).asJava)
  }
  private def compact(n: JsonNode): String = mapper.writeValueAsString(n)

  /** File entries in the Delta add-action shape. Names without recorded
    * meta are written size -1 and dropped on read. Commit records carry
    * `mtime` only for re-referenced files (the record's own `ts` is the
    * add time of everything else); checkpoints flatten history, so
    * their entries carry each file's original add time. */
  private def fileEntries(names: Seq[String], meta: Map[String, FileMeta]): Seq[JsonNode] =
    names.map { n =>
      val m = meta.getOrElse(n, FileMeta(-1L, -1L))
      val e = obj("path" -> n, "size" -> m.size, "rows" -> m.rows)
      if (m.mtime >= 0) e.put("mtime", m.mtime) else e
    }

  /** A commit record. Optional fields are omitted when empty, so a
    * table that never used a feature pays nothing for it. */
  def encodeCommit(r: CommitRecord): String = {
    val txn = if (r.txnApp.isEmpty) Nil else Seq("txnApp" -> r.txnApp, "txnVer" -> r.txnVer)
    val optional = Seq("dvTargets" -> node(r.dvTargets),
      "constraints" -> obj(r.constraints: _*), "colmap" -> obj(r.colMap: _*),
      "droppedPhys" -> node(r.droppedPhys), "pcols" -> node(r.pcols),
      "props" -> obj(r.props: _*)).filterNot(_._2.isEmpty)
    compact(obj(Seq("version" -> r.version, "action" -> r.action, "rows" -> r.rows,
      "ts" -> r.ts, "add" -> fileEntries(r.add, r.addMeta), "remove" -> r.remove,
      "schema" -> r.schemaDdl) ++ txn ++ optional: _*))
  }

  /** A checkpoint: `files` keeps the bare-name shape older readers
    * expect; `fmeta` carries the per-file meta resolution seeds from. */
  def encodeCheckpoint(version: Int, rows: Long, ts: Long, files: Seq[String],
                       meta: Map[String, FileMeta], schemaDdl: String): String =
    compact(obj("version" -> version, "rows" -> rows, "ts" -> ts, "files" -> files,
      "fmeta" -> fileEntries(files, meta), "schema" -> schemaDdl))

  /** `{"version":N}` — the `_last_checkpoint` pointer and the
    * change-feed cursor. */
  def encodeVersion(v: Int): String = compact(obj("version" -> v))

  def encodeHorizon(horizon: Int, ts: Long): String =
    compact(obj("horizon" -> horizon, "ts" -> ts))

  /** One stats sidecar line; `min`/`max` are strings for every kind. */
  def encodeStatsLine(file: String, col: String, s: FileStats.ColStats): String =
    compact(obj("file" -> file, "col" -> col, "kind" -> s.kind, "min" -> s.min,
      "max" -> s.max, "nulls" -> s.nulls, "rows" -> s.rows))

  def encodeBloomLine(file: String, col: String, b64: String): String =
    compact(obj("file" -> file, "col" -> col, "b64" -> b64))

  /** A `graft-lake` source offset: a bare version number for a commit
    * boundary, `{"version":V,"index":I}` inside a chunked snapshot. */
  def encodeOffset(version: Int, index: Long): String =
    if (index < 0) version.toString
    else compact(obj("version" -> version, "index" -> index))

  def encodeArbiterEntry(tmp: String, owner: String, ts: Long): String =
    compact(obj("tmp" -> tmp, "owner" -> owner, "ts" -> ts))

  /** The reference's spacing (Python `json.dump` defaults): `": "`
    * after a key, `", "` between entries. */
  private object SpacedPrinter extends MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  }

  /** The watermark store, tables in name order. */
  def encodeWatermarks(entries: Map[String, WatermarkEntry]): String =
    mapper.writer(SpacedPrinter).writeValueAsString(obj(entries.toSeq.sortBy(_._1).map {
      case (t, e) => t -> obj("incremental_column" -> e.incrementalColumn,
        "last_value" -> e.lastValue)
    }: _*))

  // ---- reading ----------------------------------------------------------

  /** The document's root object, or None when the text is not one. */
  private def parseObject(json: String): Option[JsonNode] =
    try Option(mapper.readTree(json)).filter(_.isObject)
    catch { case _: java.io.IOException => None }

  private def long(o: JsonNode, k: String): Option[Long] =
    Option(o.get(k)).filter(n => n.isIntegralNumber && n.canConvertToLong).map(_.asLong)
  private def text(o: JsonNode, k: String): Option[String] =
    Option(o.get(k)).filter(_.isTextual).map(_.textValue)
  private def texts(o: JsonNode, k: String): Option[Seq[String]] =
    Option(o.get(k)).filter(n => n.isArray && n.asScala.forall(_.isTextual))
      .map(_.asScala.map(_.textValue).toSeq)
  private def pairs(o: JsonNode, k: String): Seq[(String, String)] =
    Option(o.get(k)).toSeq.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText))

  /** Log files fail loudly: `bad log record <src>: missing <field>`. */
  private def need[T](src: Any, k: String, v: Option[T]): T =
    v.getOrElse(sys.error(s"bad log record $src: missing $k"))
  private def root(json: String, src: Any): JsonNode =
    parseObject(json).getOrElse(sys.error(s"bad log record $src: not a JSON object"))

  /** A file-entry array: objects carrying meta, or the bare names the
    * pre-meta format wrote. Entries with unknown size are dropped from
    * the meta; entries without `mtime` take `ts`, the add time. */
  private def readEntries(o: JsonNode, k: String, ts: Long, src: Any)
      : (Seq[String], Map[String, FileMeta]) = {
    val arr = need(src, k, Option(o.get(k)).filter(_.isArray)).asScala.toSeq
    if (arr.forall(_.isTextual)) (arr.map(_.textValue), Map.empty)
    else {
      val entries = arr.map(e => need(src, "path", text(e, "path")) -> FileMeta(
        need(src, "size", long(e, "size")), need(src, "rows", long(e, "rows")),
        long(e, "mtime").getOrElse(ts)))
      (entries.map(_._1), entries.filter(_._2.size >= 0).toMap)
    }
  }

  /** A commit record. A record without `add` is the legacy full-list
    * format: its `files` decode as a full-replace delta. */
  def decodeCommit(json: String, src: Any): CommitRecord = {
    val o = root(json, src)
    val ts = need(src, "ts", long(o, "ts"))
    val legacy = !o.has("add")
    val (add, addMeta) = readEntries(o, if (legacy) "files" else "add", ts, src)
    val txnApp = text(o, "txnApp").getOrElse("")
    CommitRecord(need(src, "version", long(o, "version")).toInt,
      need(src, "action", text(o, "action")), add,
      if (legacy) Nil else need(src, "remove", texts(o, "remove")),
      need(src, "schema", text(o, "schema")), need(src, "rows", long(o, "rows")), ts,
      full = legacy, txnApp = txnApp,
      txnVer = if (txnApp.isEmpty) -1L else long(o, "txnVer").getOrElse(-1L),
      dvTargets = texts(o, "dvTargets").getOrElse(Nil),
      constraints = pairs(o, "constraints"), colMap = pairs(o, "colmap"),
      droppedPhys = texts(o, "droppedPhys").getOrElse(Nil), addMeta = addMeta,
      pcols = texts(o, "pcols").getOrElse(Nil), props = pairs(o, "props"))
  }

  /** A checkpoint's complete file list and the meta of the files it
    * recorded. Checkpoints without `fmeta` carry no meta; entries
    * without `mtime` take the checkpoint's own `ts`, an at-or-before
    * bound on every file's add time. */
  def decodeCheckpoint(json: String, src: Any): (Seq[String], Map[String, FileMeta]) = {
    val o = root(json, src)
    val ts = need(src, "ts", long(o, "ts"))
    (need(src, "files", texts(o, "files")),
      if (o.has("fmeta")) readEntries(o, "fmeta", ts, src)._2 else Map.empty)
  }

  /** The `version` of a pointer or cursor; None when the text holds none. */
  def decodeVersion(json: String): Option[Int] =
    parseObject(json).flatMap(long(_, "version")).map(_.toInt)

  def decodeHorizon(json: String): Option[Int] =
    parseObject(json).flatMap(long(_, "horizon")).map(_.toInt)

  /** (file, column, stats) of one sidecar line; None for a line that
    * does not parse — stats are optional, so such a file is never
    * pruned on that column. */
  def decodeStatsLine(line: String): Option[(String, String, FileStats.ColStats)] =
    parseObject(line).flatMap { o =>
      def bound(k: String): Option[Option[String]] =
        Option(o.get(k)).filter(n => n.isNull || n.isTextual).map(n => Option(n.textValue))
      for {
        file <- text(o, "file"); col <- text(o, "col")
        kind <- text(o, "kind") if kind == "num" || kind == "str"
        min <- bound("min"); max <- bound("max")
        nulls <- long(o, "nulls"); rows <- long(o, "rows")
      } yield (file, col, FileStats.ColStats(kind, min, max, nulls, rows))
    }

  /** (file, column, serialized bloom) of one sidecar line; None for a
    * line that does not parse. */
  def decodeBloomLine(line: String): Option[(String, String, Array[Byte])] =
    parseObject(line).flatMap { o =>
      for {
        file <- text(o, "file"); col <- text(o, "col"); b64 <- text(o, "b64")
        bytes <- (try Some(java.util.Base64.getDecoder.decode(b64))
                  catch { case _: IllegalArgumentException => None })
      } yield (file, col, bytes)
    }

  /** (version, index) of a source offset; index -1 for a bare version. */
  def decodeOffset(json: String): Option[(Int, Long)] =
    try Option(mapper.readTree(json)).collect {
      case n if n.isIntegralNumber && n.canConvertToInt => (n.asInt, -1L)
      case n if long(n, "version").isDefined =>
        (long(n, "version").get.toInt, long(n, "index").getOrElse(-1L))
    } catch { case _: java.io.IOException => None }

  /** (winner's tmp path, put time) of an arbiter entry; an unreadable
    * entry reads as (None, 0), and 0 means no recorded put time. */
  def decodeArbiterEntry(json: String): (Option[String], Long) =
    parseObject(json).fold((Option.empty[String], 0L))(o =>
      (text(o, "tmp"), long(o, "ts").getOrElse(0L)))

  /** The watermark store. A file that is not a JSON object of
    * `{"incremental_column", "last_value"}` entries fails naming `src`. */
  def decodeWatermarks(json: String, src: Any): Map[String, WatermarkEntry] =
    parseObject(json).getOrElse(sys.error(s"watermark store $src: not a JSON object"))
      .properties().asScala.map { e =>
        e.getKey -> text(e.getValue, "incremental_column")
          .zip(text(e.getValue, "last_value")).map((WatermarkEntry.apply _).tupled)
          .getOrElse(sys.error(s"watermark store $src: entry '${e.getKey}' " +
            "lacks incremental_column/last_value"))
      }.toMap
}
