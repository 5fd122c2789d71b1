package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import VersionedTable.FileMeta

/** [[LogCodec]] writes the same bytes the earlier hand-rolled writers
  * did, and reads every shape they left on disk. The golden strings
  * below were produced by those writers (the arbiter entry's owner, a
  * pid@host, is substituted); a byte change here is a log-format change
  * that tables written by other builds would see. */
class LogCodecSpec extends AnyFunSuite {

  private val full = LogCodec.CommitRecord(1, "delete-dv",
    add = Seq("c.parquet", "d.parquet"), remove = Seq("a.parquet"),
    schemaDdl = "id BIGINT,v STRING", rows = 3L, ts = 1700000001000L,
    txnApp = "app\"1", txnVer = 7L, dvTargets = Seq("b.parquet"),
    constraints = Seq("pos" -> "id > 0 AND v <> 'a\"b\\c'",
      "__notnull__id" -> "id IS NOT NULL"),
    colMap = Seq("v" -> "col-1"), droppedPhys = Seq("col-0"),
    addMeta = Map("c.parquet" -> FileMeta(300, 2),
      "d.parquet" -> FileMeta(400, -1, 1690000000000L)),
    pcols = Seq("p"), props = Seq("k" -> "v,{x}]", "ü" -> "é"))

  private val fullJson =
    """{"version":1,"action":"delete-dv","rows":3,"ts":1700000001000,""" +
      """"add":[{"path":"c.parquet","size":300,"rows":2},""" +
      """{"path":"d.parquet","size":400,"rows":-1,"mtime":1690000000000}],""" +
      """"remove":["a.parquet"],"schema":"id BIGINT,v STRING",""" +
      """"txnApp":"app\"1","txnVer":7,"dvTargets":["b.parquet"],""" +
      """"constraints":{"pos":"id > 0 AND v <> 'a\"b\\c'","__notnull__id":"id IS NOT NULL"},""" +
      """"colmap":{"v":"col-1"},"droppedPhys":["col-0"],"pcols":["p"],""" +
      """"props":{"k":"v,{x}]","ü":"é"}}"""

  private val src = "/lake/t/_graft_log/v00000001.json"

  test("golden encodings: commit, checkpoint, pointer, horizon, sidecar lines, offset, cursor, arbiter, watermark") {
    assert(LogCodec.encodeCommit(full) == fullJson)
    assert(LogCodec.encodeCommit(LogCodec.CommitRecord(0, "write",
      Seq("a.parquet", "b.parquet"), Nil, "id BIGINT,v STRING", 2L, 1700000000000L,
      addMeta = Map("a.parquet" -> FileMeta(100, 1), "b.parquet" -> FileMeta(200, 1)))) ==
      """{"version":0,"action":"write","rows":2,"ts":1700000000000,""" +
        """"add":[{"path":"a.parquet","size":100,"rows":1},""" +
        """{"path":"b.parquet","size":200,"rows":1}],"remove":[],""" +
        """"schema":"id BIGINT,v STRING"}""")
    assert(LogCodec.encodeCheckpoint(1, 3L, 1700000001000L,
      Seq("b.parquet", "c.parquet", "d.parquet"),
      Map("b.parquet" -> FileMeta(200, 1, 1700000000000L),
        "c.parquet" -> FileMeta(300, 2, 1700000001000L),
        "d.parquet" -> FileMeta(400, -1, 1690000000000L)), "id BIGINT,v STRING") ==
      """{"version":1,"rows":3,"ts":1700000001000,""" +
        """"files":["b.parquet","c.parquet","d.parquet"],""" +
        """"fmeta":[{"path":"b.parquet","size":200,"rows":1,"mtime":1700000000000},""" +
        """{"path":"c.parquet","size":300,"rows":2,"mtime":1700000001000},""" +
        """{"path":"d.parquet","size":400,"rows":-1,"mtime":1690000000000}],""" +
        """"schema":"id BIGINT,v STRING"}""")
    assert(LogCodec.encodeVersion(1) == """{"version":1}""")
    assert(LogCodec.encodeVersion(5) == """{"version":5}""")
    assert(LogCodec.encodeHorizon(4, 1792303084022L) ==
      """{"horizon":4,"ts":1792303084022}""")
    assert(LogCodec.encodeStatsLine("f\"1.parquet", "n",
      FileStats.ColStats("num", None, None, 3L, 3L)) ==
      """{"file":"f\"1.parquet","col":"n","kind":"num","min":null,"max":null,"nulls":3,"rows":3}""")
    assert(LogCodec.encodeStatsLine("f\"1.parquet", "s",
      FileStats.ColStats("str", Some("a\\b\"c"), Some("zeta"), 1L, 3L)) ==
      """{"file":"f\"1.parquet","col":"s","kind":"str","min":"a\\b\"c","max":"zeta","nulls":1,"rows":3}""")
    assert(LogCodec.encodeBloomLine("v00000002-c2a05a80-part-00000.parquet", "id",
      "AAAAAgAAAAEAAAAAAAAAAQAAAAAAgAAA") ==
      """{"file":"v00000002-c2a05a80-part-00000.parquet","col":"id",""" +
        """"b64":"AAAAAgAAAAEAAAAAAAAAAQAAAAAAgAAA"}""")
    assert(LogCodec.encodeOffset(3, 7L) == """{"version":3,"index":7}""")
    assert(LogCodec.encodeOffset(3, -1L) == "3")
    assert(LogCodec.encodeArbiterEntry("/lake/t/_graft_log/.tmp-v00000001-1.json",
      "4242@lake-host", 1792303084047L) ==
      """{"tmp":"/lake/t/_graft_log/.tmp-v00000001-1.json",""" +
        """"owner":"4242@lake-host","ts":1792303084047}""")
    assert(LogCodec.encodeWatermarks(Map(
      "ticker" -> WatermarkEntry("fecha", "2024-08-12 10:11:12"),
      "alpha" -> WatermarkEntry("c", "x"))) ==
      """{"alpha": {"incremental_column": "c", "last_value": "x"}, """ +
        """"ticker": {"incremental_column": "fecha", "last_value": "2024-08-12 10:11:12"}}""")
  }

  test("every encoding decodes back to its input") {
    // decoding stamps the record's ts on adds without their own mtime
    assert(LogCodec.decodeCommit(fullJson, src) == full.copy(addMeta = full.addMeta +
      ("c.parquet" -> FileMeta(300, 2, 1700000001000L))))
    assert(LogCodec.decodeVersion("""{"version":5}""").contains(5))
    assert(LogCodec.decodeHorizon("""{"horizon":4,"ts":1792303084022}""").contains(4))
    val s = FileStats.ColStats("str", Some("\nalpha\t\u0001"), Some("zeta"), 0L, 3L)
    assert(LogCodec.decodeStatsLine(LogCodec.encodeStatsLine("f", "c", s))
      .contains(("f", "c", s)))
    val bloom = LogCodec.decodeBloomLine(
      LogCodec.encodeBloomLine("f", "c", "AAAAAgAAAAEAAAAAAAAAAQAAAAAAgAAA"))
    assert(bloom.map(b => (b._1, b._2, b._3.toSeq)).contains(("f", "c",
      java.util.Base64.getDecoder.decode("AAAAAgAAAAEAAAAAAAAAAQAAAAAAgAAA").toSeq)))
    assert(LogCodec.decodeOffset("""{"version":3,"index":7}""").contains((3, 7L)))
    assert(LogCodec.decodeArbiterEntry(LogCodec.encodeArbiterEntry("/a \"b\"", "o", 9L)) ==
      ((Some("/a \"b\""), 9L)))
    val wm = Map("t\"1" -> WatermarkEntry("c", "a\"b\\"))
    assert(LogCodec.decodeWatermarks(LogCodec.encodeWatermarks(wm), "wm.json") == wm)
  }

  test("legacy shapes: full files records, bare-name adds, checkpoints without fmeta or mtime, bare offsets") {
    val legacyFull = LogCodec.decodeCommit(
      """{"version":1,"action":"append","files":["a.parquet","b.parquet"],""" +
        """"schema":"id BIGINT","rows":3,"ts":5}""", src)
    assert(legacyFull.full && legacyFull.add == Seq("a.parquet", "b.parquet"))
    assert(legacyFull.remove.isEmpty && legacyFull.addMeta.isEmpty && legacyFull.rows == 3L)

    val bare = LogCodec.decodeCommit(
      """{"version":2,"action":"append","rows":1,"ts":6,"add":["c.parquet"],""" +
        """"remove":["a.parquet"],"schema":"id BIGINT"}""", src)
    assert(!bare.full && bare.add == Seq("c.parquet") && bare.remove == Seq("a.parquet"))
    assert(bare.addMeta.isEmpty)

    // pre-meta adds written without a recorded size are dropped from the meta
    val unsized = LogCodec.decodeCommit(
      """{"version":2,"action":"restore","rows":1,"ts":6,""" +
        """"add":[{"path":"c.parquet","size":-1,"rows":-1}],"remove":[],"schema":"id BIGINT"}""", src)
    assert(unsized.add == Seq("c.parquet") && unsized.addMeta.isEmpty)

    assert(LogCodec.decodeCheckpoint(
      """{"version":10,"rows":3,"ts":9,"files":["a.parquet","b.parquet"],"schema":"id BIGINT"}""",
      src) == ((Seq("a.parquet", "b.parquet"), Map.empty[String, FileMeta])))
    assert(LogCodec.decodeCheckpoint(
      """{"version":10,"rows":3,"ts":9,"files":["a.parquet"],""" +
        """"fmeta":[{"path":"a.parquet","size":10,"rows":3}],"schema":"id BIGINT"}""",
      src)._2 == Map("a.parquet" -> FileMeta(10, 3, 9L)))

    assert(LogCodec.decodeOffset("3").contains((3, -1L)))
    assert(LogCodec.decodeOffset(" 12 ").contains((12, -1L)))
    assert(LogCodec.decodeOffset("""{"version":4}""").contains((4, -1L)))
    assert(LogCodec.decodeOffset("garbage").isEmpty)
  }

  test("a record written with a raw newline inside a constraint expression decodes") {
    // earlier writers escaped only quote and backslash
    val rec = LogCodec.decodeCommit(
      "{\"version\":3,\"action\":\"constraint\",\"rows\":3,\"ts\":1792303081585," +
        "\"add\":[],\"remove\":[],\"schema\":\"id BIGINT NOT NULL,v STRING\"," +
        "\"constraints\":{\"nl\":\"id > 0\nAND id < 100\"}," +
        "\"props\":{\"bloom.columns\":\"id\",\"bloom.fpp\":\"0.5\",\"bloom.maxItems\":\"1\"}}",
      src)
    assert(rec.constraints == Seq("nl" -> "id > 0\nAND id < 100"))
    assert(rec.props.map(_._1) == Seq("bloom.columns", "bloom.fpp", "bloom.maxItems"))
    // written again, the newline is escaped
    assert(LogCodec.encodeCommit(rec).contains(""""nl":"id > 0\nAND id < 100""""))
  }

  test("a record without schema fails naming the path and the field; bad sidecar lines and cursors read as absent") {
    val e = intercept[RuntimeException](LogCodec.decodeCommit(
      """{"version":1,"action":"append","rows":1,"ts":6,"add":[],"remove":[]}""", src))
    assert(e.getMessage == s"bad log record $src: missing schema")
    val torn = intercept[RuntimeException](LogCodec.decodeCommit(
      """{"version":1,"action":"app""", src))
    assert(torn.getMessage.startsWith(s"bad log record $src"))
    assert(LogCodec.decodeStatsLine("""{"file":"f","col":"c","kind":"str","min":"a""").isEmpty)
    assert(LogCodec.decodeStatsLine(
      """{"file":"f","col":"c","kind":"map","min":null,"max":null,"nulls":0,"rows":1}""").isEmpty)
    assert(LogCodec.decodeBloomLine("""{"file":"f","col":"c","b64":"!!"}""").isEmpty)
    assert(LogCodec.decodeVersion("not json").isEmpty)
    assert(LogCodec.decodeVersion("""{"v":1}""").isEmpty)
  }
}
