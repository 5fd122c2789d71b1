package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import org.apache.spark.sql.graft.GraftLakeRelation

/** The lake's BATCH format string (org.apache.spark.sql.graft.
  * GraftLakeRelation): `spark.read/write.format("graft-lake")`, the
  * SQL front door (temp views and `CREATE TABLE ... USING`), pushdown
  * translation edges, and time-travel options.
  */
class LakeSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scratch(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("format-string writes land as versioned commits; all four save modes honor lake existence") {
    val dir = scratch("graft-sql-w") + "/t"
    val t = VersionedTable(spark, dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    df.write.format("graft-lake").mode("overwrite").save(dir)        // v0
    df.filter(col("id") === 1L).withColumn("id", col("id") + 10)
      .write.format("graft-lake").mode("append").save(dir)           // v1
    assert(t.history().map(_._2) == Seq("overwrite", "append"))
    assert(spark.read.format("graft-lake").load(dir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 11L))
    // Ignore on an existing table: no-op
    df.write.format("graft-lake").mode("ignore").save(dir)
    assert(t.versions().size == 2)
    // ErrorIfExists on an existing table: loud
    val e = intercept[Exception] {
      df.write.format("graft-lake").mode("errorifexists").save(dir)
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // both creation modes seed a fresh table
    val dir2 = scratch("graft-sql-w2") + "/t"
    df.write.format("graft-lake").mode("errorifexists").save(dir2)
    assert(VersionedTable(spark, dir2).read().count() == 2)
  }

  test("read equality with the Scala API, DV overlay included; untranslatable predicates stay correct (just unpruned)") {
    val dir = scratch("graft-sql-r") + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite((1L to 100L).map(i => (i, i % 7)).toDF("id", "m")
      .repartitionByRange(4, col("id")))
    t.deleteMoR(col("id") % 10 === 0L)
    val viaFormat = spark.read.format("graft-lake").load(dir)
    assert(viaFormat.select("id").as[Long].collect().sorted.toSeq ==
      t.read().select("id").as[Long].collect().sorted.toSeq)
    viaFormat.createOrReplaceTempView("sqlspec_t")
    // translatable range predicate: prunes files AND returns the truth
    val pruned = spark.sql("SELECT id FROM sqlspec_t WHERE id <= 25")
      .as[Long].collect().sorted.toSeq
    assert(pruned == (1L to 25L).filterNot(_ % 10 == 0))
    assert(GraftLakeRelation.lastScanFiles.get(dir) < 4)
    // arithmetic predicate: no sources.Filter shape exists for it, so
    // nothing prunes — but the engine's re-applied filter keeps it true
    val unpruned = spark.sql("SELECT id FROM sqlspec_t WHERE id % 3 = 0")
      .as[Long].collect().sorted.toSeq
    assert(unpruned == (1L to 100L).filter(i => i % 3 == 0 && i % 10 != 0))
    assert(GraftLakeRelation.lastScanFiles.get(dir) == 4)
    // OR with an untranslatable side must drop the WHOLE disjunction
    // from pruning (a half-applied OR would prune wrongly)
    val orRows = spark.sql(
      "SELECT id FROM sqlspec_t WHERE id <= 5 OR id % 97 = 0")
      .as[Long].collect().sorted.toSeq
    assert(orRows == Seq(1L, 2L, 3L, 4L, 5L, 97L))
    assert(GraftLakeRelation.lastScanFiles.get(dir) == 4)
  }

  test("CREATE TABLE ... USING graft-lake registers the lake in the catalog; SQL queries and time travel work against it") {
    val dir = scratch("graft-sql-ct") + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))     // v0
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))                   // v1
    spark.sql("DROP TABLE IF EXISTS lake_ct")
    spark.sql(s"CREATE TABLE lake_ct USING `graft-lake` OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM lake_ct")
        .as[Long].head() == 3L)
      assert(spark.sql("SELECT v FROM lake_ct WHERE id = 3").as[String]
        .head() == "c")
    } finally spark.sql("DROP TABLE IF EXISTS lake_ct")
    // time travel via read options
    assert(spark.read.format("graft-lake").option("versionAsOf", 0)
      .load(dir).count() == 2)
    val e = intercept[Exception] {
      spark.read.format("graft-lake")
        .option("versionAsOf", 0).option("timestampAsOf", "2020-01-01 00:00:00")
        .load(dir)
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("native-scan fast path: read() plans a vectorized file scan; the provider keeps the insert-proof bridge; DV tables fall back") {
    val dir = scratch("graft-sql-native") + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite((1L to 100L).map(i => (i, i * 2)).toDF("id", "d")
      .repartitionByRange(4, col("id")))
    // the Scala API read of a plain snapshot is Spark's native FileScan
    // (codegen'd, parquet pushdown), with the lake's stats skipping
    val plan = t.read().filter(col("id") <= 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") && plan.contains("PushedFilters"),
      s"plain snapshot read() did not take the native scan path:\n$plan")
    assert(t.read().filter(col("id") <= 10).count() == 10)
    // pruning observable through the same hook as the bridge
    assert(GraftLakeRelation.lastScanFiles.get(dir) < t.snapshotDataFiles().size)
    // the PROVIDER stays on the bridge in an extension-less session —
    // the relation behind CREATE TABLE USING must never be a bare
    // HadoopFsRelation (it would be insertable around the commit log)
    val viaDoor = spark.read.format("graft-lake").load(dir)
    assert(viaDoor.queryExecution.executedPlan.toString
      .contains("Scan GraftLakeRelation"),
      viaDoor.queryExecution.executedPlan.toString.take(500))
    assert(viaDoor.filter(col("id") <= 10).count() == 10)
    // a DV overlay keeps the NATIVE data-side scan (r17): the same
    // GraftFileIndex vectorized read with the deleted positions
    // filtered away scan-locally (broadcast row-index filter; an
    // anti-join for oversized vectors) — never a bare plain-parquet
    // scan that would resurrect deleted rows
    t.deleteMoR(col("id") % 10 === 0L)
    val dvPlan = t.read().queryExecution.executedPlan.toString
    assert(dvPlan.contains("GraftFileIndex"),
      s"DV snapshot read must keep the native data-side scan:\n$dvPlan")
    assert(dvPlan.contains("dv_not_deleted") ||
      dvPlan.toLowerCase.contains("leftanti"),
      s"DV snapshot read must overlay the deleted positions:\n$dvPlan")
    assert(t.read().count() == 90)
    assert(t.read().filter(col("id") <= 10).count() == 9)
    // readWhere is read().filter: the same log-planned relation under
    // the same scan-local overlay, not a subset scan with an anti-join
    val wherePlan = t.readWhere(col("id") <= 10).queryExecution.executedPlan.toString
    assert(wherePlan.contains("GraftFileIndex") && wherePlan.contains("dv_not_deleted"),
      s"readWhere must scan the snapshot relation through the row-index filter:\n$wherePlan")
    assert(t.readWhere(col("id") <= 10).count() == 9)
    // ... and still skips files by stats: the overlay's `_metadata`
    // conjunct must not take the data filter's pruning down with it
    assert(GraftLakeRelation.lastScanFiles.get(dir) < t.snapshotDataFiles().size)
    // the oversized-vector fallback is the anti-join — same rows
    spark.conf.set("spark.graft.lake.dvBroadcastMaxRows", "1")
    try {
      val big = VersionedTable(spark, dir) // fresh handle: no broadcast cache
      val joinPlan = big.read().queryExecution.executedPlan.toString
      assert(joinPlan.toLowerCase.contains("leftanti"),
        s"oversized vectors must fall back to the anti-join:\n$joinPlan")
      assert(big.read().count() == 90)
      assert(big.readWhere(col("id") <= 10).count() == 9)
      assert(GraftLakeRelation.lastScanFiles.get(dir) < big.snapshotDataFiles().size)
    } finally spark.conf.unset("spark.graft.lake.dvBroadcastMaxRows")
    // a metadata-only added column stays on the fast path, null-filled
    val dir2 = scratch("graft-sql-native2") + "/t"
    val t2 = VersionedTable(spark, dir2)
    t2.commitOverwrite(Seq((1L, "x")).toDF("id", "v"))
    t2.addColumn("score", org.apache.spark.sql.types.DoubleType)
    assert(t2.read().queryExecution.executedPlan.toString
      .contains("GraftFileIndex"))
    assert(t2.read().filter(col("score").isNull).count() == 1)
    // zero-data-file table (schema-only commit) reads empty, with schema
    val dir3 = scratch("graft-sql-native3") + "/t"
    VersionedTable(spark, dir3).commitOverwrite(
      Seq((1L, "x")).toDF("id", "v").limit(0))
    val empty = spark.read.format("graft-lake").load(dir3)
    assert(empty.count() == 0 && empty.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("USING graft-lake tables refuse file-source inserts and never serve stale snapshots") {
    val dir = scratch("graft-sql-safety") + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql(s"CREATE TABLE lake_safety USING `graft-lake` OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM lake_safety")
        .head.getLong(0) == 2)
      // INSERT INTO/OVERWRITE must fail LOUDLY — a silent file-source
      // write would bypass the commit log, and the overwrite flavor
      // would delete the table directory including the log
      intercept[Exception] {
        spark.sql("INSERT INTO lake_safety VALUES (3, 'c')")
      }
      intercept[Exception] {
        spark.sql("INSERT OVERWRITE TABLE lake_safety VALUES (9, 'z')")
      }
      assert(t.latestVersion().contains(0) && t.read().count() == 2,
        "a refused insert must leave the table byte-identical")
      // an external commit is visible to the NEXT statement — the
      // cached relation must not pin a snapshot forever
      t.commitAppend(Seq((3L, "c")).toDF("id", "v"))
      assert(spark.sql("SELECT count(*) AS n FROM lake_safety")
        .head.getLong(0) == 3,
        "USING-table read served a stale snapshot after an external commit")
    } finally spark.sql("DROP TABLE IF EXISTS lake_safety")
  }

  test("readChangeFeed: the batch CDF door equals changesBetween, inclusive start, loud edges") {
    import org.apache.spark.sql.Row
    val dir = scratch("graft-sql-cdf") + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // v0
    t.commitAppend(Seq((4L, "d"), (5L, "e")).toDF("id", "v"))               // v1
    t.delete(col("id") === 2L)                                              // v2
    def feed(opts: (String, String)*): Seq[Row] = {
      val r = opts.foldLeft(spark.read.format("graft-lake")
        .option("readChangeFeed", "true")) { case (b, (k, x)) => b.option(k, x) }
      r.load(dir).collect().toSeq
    }
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    // inclusive start: startingVersion=1 is changesBetween(0, head)
    assert(feed("startingVersion" -> "1").groupBy(identity).view.mapValues(_.size).toMap ==
      multiset(t.changesBetween(0, 2)))
    // from 0 = the whole history's feed
    assert(feed("startingVersion" -> "0").size ==
      t.changesBetween(-1, 2).count())
    // endingVersion bounds the range
    assert(feed("startingVersion" -> "1", "endingVersion" -> "1").groupBy(identity)
      .view.mapValues(_.size).toMap == multiset(t.changesBetween(0, 1)))
    // missing start / future timestamp / snapshot-option mixes all fail loudly
    assert(intercept[Exception](feed()).getMessage.contains("startingVersion"))
    assert(intercept[Exception](feed(
      "startingTimestamp" -> "2999-01-01 00:00:00"))
      .getMessage.contains("after the last commit"))
    assert(intercept[Exception](feed("startingVersion" -> "0",
      "versionAsOf" -> "1")).getMessage.contains("cannot combine"))
    assert(intercept[Exception](feed("startingVersion" -> "0",
      "endingVersion" -> "99")).getMessage.contains("beyond the last commit"))
  }
}
