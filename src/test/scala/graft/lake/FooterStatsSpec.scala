package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Parity proof for the r19 footer-derived stats gear: the sidecar a
  * commit writes from its staged files' parquet FOOTERS must be
  * line-identical to what the distributed [[FileStats.collect]]
  * aggregate computes over the same committed files — across every
  * stats-eligible type and the adversarial edges (NaN/Inf poisoning,
  * all-null columns, >64-char strings with the truncation sentinel,
  * negative dates, decimals at INT32/INT64/BINARY widths, null-heavy
  * columns). The footer gear must DECLINE (fall back, not
  * mis-serialize) whenever a column can't be proven value-identical —
  * the INT96 case is covered by flipping the session's
  * outputTimestampType.
  */
class FooterStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Commit `df` once and return (the sidecar the commit wrote, the
    * sidecar [[FileStats.collect]] yields when run directly on the
    * committed files), both as sorted JSONL lines. */
  private def bothSidecars(df: DataFrame): (Seq[String], Seq[String]) = {
    val dir = Files.createTempDirectory("graft-fstats").toString + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite(df)
    val log = new java.io.File(dir, "_graft_log")
    val stats = log.listFiles().filter(_.getName.endsWith("-stats.jsonl"))
    assert(stats.length == 1, s"expected one stats sidecar, got ${stats.toSeq}")
    import scala.jdk.CollectionConverters._
    val written = Files.readAllLines(stats.head.toPath).asScala.toSeq.sorted
    val collected = FileStats.sidecarLines(
      FileStats.collect(spark, t.snapshotDataFiles().map(f => s"$dir/$f"))).sorted
    (written, collected)
  }

  private def assertParity(df: DataFrame): Unit = {
    val (footer, distributed) = bothSidecars(df)
    assert(footer == distributed,
      s"footer-gear sidecar diverges from distributed:\n  footer:      " +
        s"${footer.mkString("\n               ")}\n  distributed: " +
        s"${distributed.mkString("\n               ")}")
  }

  test("all stats-eligible types serialize identically from footers") {
    import spark.implicits._
    val df = spark.range(0, 300).toDF("k")
      .withColumn("i8", (col("k") % 100 - 50).cast("byte"))
      .withColumn("i16", (col("k") * 7 - 1000).cast("short"))
      .withColumn("i32", (col("k") * 1001 - 150000).cast("int"))
      .withColumn("i64", col("k") * 1000000007L - 3L)
      .withColumn("f32", (col("k").cast("float") / 7.0f) - lit(21.5f))
      .withColumn("f64", (col("k").cast("double") / 3.0) - lit(50.0))
      .withColumn("dec9", (col("k") - 150).cast("decimal(9,2)"))
      .withColumn("dec18", (col("k") * 12345 - 700000).cast("decimal(18,4)"))
      .withColumn("dec38", (col("k") * 98765).cast("decimal(38,6)") * -1)
      .withColumn("s", concat(lit("row-"), format_string("%04d", col("k"))))
      .withColumn("d", date_add(to_date(lit("1969-12-01")), col("k").cast("int")))
      .withColumn("ts", timestamp_seconds(col("k") * 86400 - 40000000L))
      .withColumn("ntz", col("ts").cast("timestamp_ntz"))
      .repartitionByRange(3, col("k"))
    assertParity(df)
  }

  test("nulls, all-null columns, and null-only files match") {
    val df = spark.range(0, 200).toDF("k")
      .withColumn("half_null", when(col("k") % 2 === 0, col("k") * 3))
      .withColumn("all_null", lit(null).cast("long"))
      .withColumn("all_null_str", lit(null).cast("string"))
      // one file all-null, others valued: range-cluster so file 0 = k<100
      .withColumn("file_null", when(col("k") >= 100, col("k").cast("double")))
      .repartitionByRange(2, col("k"))
    assertParity(df)
  }

  test("NaN and Infinity poison a column's stats on both gears") {
    val df = spark.range(0, 100).toDF("k")
      .withColumn("with_nan",
        when(col("k") === 50, lit(Double.NaN)).otherwise(col("k").cast("double")))
      .withColumn("with_inf",
        when(col("k") === 10, lit(Double.PositiveInfinity))
          .otherwise(col("k").cast("double")))
      .withColumn("f_nan",
        when(col("k") === 5, lit(Float.NaN)).otherwise(col("k").cast("float")))
      .withColumn("clean", col("k").cast("double"))
      .coalesce(1) // one file: the poisoned columns drop everywhere
    val (footer, distributed) = bothSidecars(df)
    assert(footer == distributed)
    // and the poisoned columns are really absent while clean survives
    assert(footer.exists(_.contains("\"col\":\"clean\"")))
    assert(!footer.exists(_.contains("\"col\":\"with_nan\"")))
    assert(!footer.exists(_.contains("\"col\":\"with_inf\"")))
    assert(!footer.exists(_.contains("\"col\":\"f_nan\"")))
  }

  test("long strings truncate with the same sentinel on both gears") {
    val df = spark.range(0, 50).toDF("k")
      .withColumn("long_s", concat(format_string("%03d-", col("k")),
        lit("x" * 200)))
      .withColumn("uni", concat(lit("préfix-é😀-"), format_string("%03d", col("k"))))
    assertParity(df)
  }

  test("INT96 timestamps decline the footer gear (fallback, same sidecar)") {
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val df = spark.range(0, 60).toDF("k")
        .withColumn("ts", timestamp_seconds(col("k") * 3600))
        .withColumn("v", col("k") * 2)
      // both gears must produce the identical sidecar: the footer gear
      // declines on the INT96 column and falls back to the distributed
      // pass — which stats ts AND v exactly as before
      assertParity(df)
      val (footer, _) = bothSidecars(df)
      assert(footer.exists(_.contains("\"col\":\"ts\"")))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("partitioned staging gets footer stats too (min=max partition values)") {
    val dir = Files.createTempDirectory("graft-fstats-p").toString + "/t"
    val t = VersionedTable(spark, dir)
    val df = spark.range(0, 90).toDF("k")
      .withColumn("p", (col("k") % 3).cast("int"))
      .withColumn("v", col("k") * 10)
    t.commitOverwritePartitioned(df, Seq("p"))
    // partition recovery (min = max = value) must hold on footer stats
    assert(t.candidateFiles(col("p") === 1).nonEmpty)
    assert(t.candidateFiles(col("p") === 7).isEmpty)
    val all = t.read().count()
    assert(all == 90)
    assert(t.readWhere(col("p") === 1).count() == 30)
  }
}
