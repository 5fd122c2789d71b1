package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Data skipping ([[FileStats]] + VersionedTable.readWhere): stats-based
  * file pruning must (1) actually prune when the layout allows it and
  * (2) NEVER change results — `readWhere(p)` ≡ `read().filter(p)` on any
  * table, any predicate.
  */
class DataSkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable() = VersionedTable(spark,
    Files.createTempDirectory("graft-skip").toString + "/t")

  /** 400 rows range-clustered on k into 4 files: k-ranges are disjoint
    * per file, so point/range predicates on k prune. */
  private def clusteredTable() = {
    val t = freshTable()
    val df = spark.range(0, 400).toDF("k")
      .withColumn("grp", (col("k") / 100).cast("int"))
      .withColumn("name", concat(lit("row-"), format_string("%04d", col("k"))))
      .withColumn("val", col("k").cast("double") * 1.5)
      .withColumn("d", to_date(lit("2024-01-01")))
      .withColumn("ts", timestamp_seconds(
        unix_timestamp(lit("2024-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss") + col("k") * 60))
      .repartitionByRange(4, col("k"))
    t.commitOverwrite(df)
    t
  }

  test("point and range predicates prune to the files whose min/max admit them") {
    val t = clusteredTable()
    val total = t.candidateFiles(lit(true)).length
    assert(total == 4)
    assert(t.candidateFiles(col("k") === 5L).length == 1)
    assert(t.candidateFiles(col("k") < 100L).length == 1)
    assert(t.candidateFiles(col("k") >= 300L).length == 1)
    assert(t.candidateFiles(col("k").between(50L, 150L)).length == 2)
    assert(t.candidateFiles(col("k") === 5L || col("k") === 399L).length == 2)
    assert(t.candidateFiles(col("k") === -1L).isEmpty)
    // results identical to the unpruned read+filter
    val a = t.readWhere(col("k").between(50L, 150L)).select("k").as[Long].collect().sorted
    val b = t.read().filter(col("k").between(50L, 150L)).select("k").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq && a.length == 101)
  }

  test("string, date, timestamp, and null predicates prune via their stats encodings") {
    val t = clusteredTable()
    // strings cluster with k (row-0000..row-0399 in k order)
    assert(t.candidateFiles(col("name") === "row-0005").length == 1)
    assert(t.candidateFiles(col("name").startsWith("row-03")).length == 1)
    assert(t.candidateFiles(col("name") === "zzz").isEmpty)
    // every row has d = 2024-01-01: other dates prune everything
    assert(t.candidateFiles(col("d") === to_date(lit("2024-01-01"))).length == 4)
    assert(t.candidateFiles(col("d") === to_date(lit("2024-06-01"))).isEmpty)
    // timestamps cluster with k (one minute per row)
    assert(t.candidateFiles(col("ts") < to_timestamp(lit("2024-01-01 01:40:00"))).length == 1)
    // no column is null: IsNull prunes all files, IsNotNull keeps all
    assert(t.candidateFiles(col("name").isNull).isEmpty)
    assert(t.readWhere(col("name").isNull).count() == 0)
    assert(t.candidateFiles(col("name").isNotNull).length == 4)
    // IN-list keeps exactly the files containing a listed point
    assert(t.candidateFiles(col("k").isin(5L, 399L)).length == 2)
  }

  test("unsupported predicate shapes never prune (conservative), results stay correct") {
    val t = clusteredTable()
    assert(t.candidateFiles(length(col("name")) === 8).length == 4)
    assert(t.candidateFiles(not(col("k") === 5L)).length == 4)
    assert(t.readWhere(length(col("name")) === 8).count() == 400)
    // column-vs-column comparison: no literal, no pruning
    assert(t.candidateFiles(col("k") === col("grp")).length == 4)
  }

  test("appends and DML rewrites keep stats consistent across versions") {
    val t = clusteredTable()
    t.commitAppend(Seq((1000L, 10, "row-1000", 1.5, java.sql.Date.valueOf("2024-01-01"),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("k", "grp", "name", "val", "d", "ts"))
    assert(t.candidateFiles(col("k") === 1000L).length == 1)
    assert(t.readWhere(col("k") === 1000L).count() == 1)
    // copy-on-write update rewrites one file; its replacement gets stats
    t.update(col("k") === 5L, Map("val" -> lit(-1.0)))
    assert(t.candidateFiles(col("val") < 0.0).length == 1)
    val hit = t.readWhere(col("val") < 0.0).select("k").as[Long].collect().toSeq
    assert(hit == Seq(5L))
    // pruned read equals full filter on the evolved table
    assert(t.readWhere(col("k") < 100L).count() ==
      t.read().filter(col("k") < 100L).count())
  }

  test("all-null columns prune ordered comparisons but match IsNull") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, Option.empty[String]), (2L, None))
      .toDF("id", "s"))
    assert(t.candidateFiles(col("s") === "x").isEmpty)
    assert(t.candidateFiles(col("s") < "x").isEmpty)
    assert(t.candidateFiles(col("s").isNull).nonEmpty)
    assert(t.readWhere(col("s").isNull).count() == 2)
    assert(t.candidateFiles(col("s").isNotNull).isEmpty)
    // null-safe equality against null keeps exactly the null-bearing files
    assert(t.candidateFiles(col("s") <=> lit(null)).nonEmpty)
  }

  test("r18: TIMESTAMP_NTZ predicates prune via wall-micros stats (UTC session)") {
    val t = freshTable()
    val df = spark.range(0, 400).toDF("k")
      .withColumn("tntz", expr(
        "timestampadd(MINUTE, cast(k AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00')"))
      .repartitionByRange(4, col("k"))
    t.commitOverwrite(df)
    assert(t.read().schema("tntz").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val total = t.snapshotDataFiles().size
    // point predicate inside one file's range
    val cand = t.candidateFiles(
      col("tntz") === expr("TIMESTAMP_NTZ '2024-01-01 00:50:00'"))
    assert(cand.size == 1, s"expected 1 of $total files, got ${cand.size}")
    assert(t.readWhere(
      col("tntz") === expr("TIMESTAMP_NTZ '2024-01-01 00:50:00'")).count() == 1)
    // range predicate
    val range = t.candidateFiles(
      col("tntz") >= expr("TIMESTAMP_NTZ '2024-01-01 05:00:00'"))
    assert(range.size < total && range.nonEmpty)
    // filesHitByKeys through the same encoding
    import spark.implicits._
    val keys = Seq(java.time.LocalDateTime.parse("2024-01-01T00:50:00"))
      .toDF("tntz")
    val hit = t.filesHitByKeys(keys, Seq("tntz"))
    assert(hit.size == 1, s"expected 1 file hit, got ${hit.size}")
    assert(t.readSnapshotFiles(hit)
      .filter(col("tntz") === expr("TIMESTAMP_NTZ '2024-01-01 00:50:00'"))
      .count() == 1)
  }

  test("r18: readForKeys — join-driven dynamic file pruning on an unpartitioned fact") {
    val t = clusteredTable() // 4 files, disjoint k-ranges
    // the "dim side": a selective key set entirely inside one file's range
    val keys = spark.range(10, 20).toDF("k")
    // file scope: a strict subset of the snapshot
    val hit = t.filesHitByKeys(keys, Seq("k"))
    assert(hit.size == 1, s"expected 1 file hit of 4, got ${hit.size}")
    // join equivalence: readForKeys(k).join(k) ≡ read().join(k)
    val viaPruned = t.readForKeys(keys, Seq("k"))
      .join(keys, Seq("k")).agg(sum("val")).head().getDouble(0)
    val viaFull = t.read()
      .join(keys, Seq("k")).agg(sum("val")).head().getDouble(0)
    assert(viaPruned == viaFull)
    // superset contract: pruned read holds at least the matching rows,
    // and far fewer than the table
    val n = t.readForKeys(keys, Seq("k")).count()
    assert(n >= 10 && n <= 100, s"expected one file's rows, got $n")
  }

  test("r19: surrogate-range string stats decline ordered pruning (UTF-16 vs UTF-8 order)") {
    val t = freshTable()
    // one file whose max is a SUPPLEMENTARY char (U+10000, a surrogate
    // pair in UTF-16), one plain file. UTF-16 ranks "" ABOVE the
    // pair's high surrogate; UTF-8 code-point order ranks U+10000 above
    // U+E000 — the exact divergence that wrongly pruned before r19.
    t.commitOverwrite(Seq(Tuple1("𐀀")).toDF("s")) // U+10000
    t.commitAppend(Seq(Tuple1("apple")).toDF("s"))
    val probe = "".toString
    // rows with s > U+E000 DO exist (U+10000 > U+E000 in the scan's
    // UTF-8 order) — the supplementary file must stay a candidate
    assert(t.readWhere(col("s") > probe).count() == 1)
    assert(t.read().filter(col("s") > probe).count() == 1)
    val cand = t.candidateFiles(col("s") > probe)
    assert(cand.nonEmpty, "surrogate-max file was wrongly pruned")
    // equality against the surrogate value itself still finds it
    assert(t.readWhere(col("s") === "𐀀").count() == 1)
    // SAFE stats still prune (the "apple" file drops for < "a"), while
    // the unsafe surrogate file conservatively stays a candidate
    assert(t.candidateFiles(col("s") < "a").size == 1)
    assert(t.readWhere(col("s") < "a").count() == 0)
  }

  test("r19: truncated string max with a supplementary char past the cap — filesHitByKeys keeps the file") {
    val t = freshTable()
    // value longer than the 64-unit stat cap whose tail is U+10000: the
    // stored max is prefix + U+FFFF, which in UTF-8 order sorts BELOW
    // the real value (F0.. > EF BF BF) — the upper bound must go vacuous
    val long = "a" * FileStats.StringStatMaxLen + "𐀀"
    t.commitOverwrite(Seq(Tuple1(long), Tuple1("a")).toDF("s"))
    import spark.implicits._
    val keys = Seq(long).toDF("s")
    val hit = t.filesHitByKeys(keys, Seq("s"))
    assert(hit.nonEmpty, "file holding the key was wrongly excluded")
    assert(t.readForKeys(keys, Seq("s")).join(keys, Seq("s")).count() == 1)
    // the driver-side evaluator agrees (equality consults only the safe
    // prefix lower bound; the unsafe truncated max answers "maybe")
    assert(t.readWhere(col("s") === long).count() == 1)
  }

  test("string stats holding a line break survive the sidecar and still prune") {
    val t = freshTable()
    // LLM text often starts with whitespace: the min "\nalpha" must be
    // escaped in the JSONL sidecar, not split across two lines
    t.commitOverwrite(Seq(("\nalpha", 1L), ("zeta", 2L), ("mid", 3L))
      .toDF("s", "k").coalesce(1))
    val (files, stats) = t.snapshotStatsAt(0)
    assert(files.size == 1)
    val s = stats(files.head).get("s")
    assert(s.flatMap(_.min).contains("\nalpha"), s"string stats lost: $s")
    assert(s.flatMap(_.max).contains("zeta"))
    assert(t.candidateFiles(col("s") === "zzzz").isEmpty)
    assert(t.readWhere(col("s") === "\nalpha").count() == 1)
  }
}
