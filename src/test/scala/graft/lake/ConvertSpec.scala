package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** r19: CONVERT TO graft-lake. Flat directories adopt IN PLACE (file
  * identity proven — zero bytes moved); hive trees import by
  * materializing into the native layout with partition columns
  * recovered from the path; every ambiguous layout refuses loudly;
  * re-convert is idempotent; the converted table is a full citizen
  * (append, DELETE, time travel, stats pruning all work on it).
  */
class ConvertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scratch() = Files.createTempDirectory("graft-convert").toString

  test("flat directory converts in place: same files, same rows, stats backfilled") {
    val dir = scratch() + "/t"
    val src = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") * 2.0)
      .withColumn("s", concat(lit("r"), col("k")))
      .repartitionByRange(4, col("k"))
    src.write.parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeFiles = before.inputFiles.map(f =>
      f.substring(f.lastIndexOf('/') + 1)).toSet

    val t = VersionedTable(spark, dir)
    assert(t.convertFromParquet() == 0)
    // FILE IDENTITY: v0 references exactly the pre-existing files
    assert(t.snapshotDataFiles().toSet == beforeFiles)
    assert(t.history().map(_._2) == Seq("convert"))
    assert(t.rowCountAt(0) == 1000)
    // content equivalence with the original parquet read
    assert(t.read().orderBy("k").collect().toSeq ==
      before.orderBy("k").collect().toSeq)
    // stats were backfilled: a point predicate prunes to 1 of 4 files
    assert(t.candidateFiles(col("k") === 500L).size == 1)
    // re-convert is an idempotent no-op returning the head
    assert(t.convertFromParquet() == 0)
    // ... even after more commits
    t.commitAppend(Seq((2000L, 1.0, "x")).toDF("k", "v", "s"))
    assert(t.convertFromParquet() == 1)
    assert(t.read().count() == 1001)
    // DML works on the adopted files (CoW rewrite of the hit file only)
    val v = t.delete(col("k") === 500L)
    assert(v.nonEmpty && t.read().count() == 1000)
    // time travel back to the convert version still reads originals
    assert(t.read(Some(0)).count() == 1000)
    assert(t.read(Some(0)).filter(col("k") === 500L).count() == 1)
  }

  test("metadata aggregates and readForKeys work on a converted table") {
    val dir = scratch() + "/t"
    spark.range(0, 400).toDF("k").withColumn("g", col("k") % 5)
      .repartitionByRange(4, col("k")).write.parquet(dir)
    val t = VersionedTable(spark, dir)
    t.convertFromParquet()
    // add actions carried footer-exact rows → metadata count answers
    val agg = t.read().agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    val out = org.apache.spark.sql.graft.GraftMetadataAggregates(
      agg.queryExecution.optimizedPlan)
    assert(out.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"metadata rule declined on converted table:\n${agg.queryExecution.optimizedPlan}")
    assert(org.apache.spark.sql.GraftColumnBridge.ofRows(spark, out).head() ==
      org.apache.spark.sql.Row(400L, 0L, 399L))
    val keys = spark.range(10, 20).toDF("k")
    assert(t.readForKeys(keys, Seq("k")).join(keys, Seq("k")).count() == 10)
  }

  test("hive tree imports with partition columns recovered from the path (multi-level too)") {
    val root = scratch()
    val src = root + "/hive"
    spark.range(0, 600).toDF("id")
      .withColumn("day", (col("id") % 3).cast("int"))
      .withColumn("region", concat(lit("r"), col("id") % 2))
      .withColumn("amt", col("id") * 1.5)
      .write.partitionBy("day", "region").parquet(src)
    val t = VersionedTable(spark, root + "/t")
    t.convertFromHiveParquet(src)
    assert(t.partitionColumns() == Seq("day", "region"))
    assert(t.read().count() == 600)
    // values round-tripped (inference types: day int, region string)
    val got = t.read().groupBy("day", "region").count()
      .orderBy("day", "region").collect().toSeq
    val want = spark.read.parquet(src).groupBy("day", "region").count()
      .orderBy("day", "region").collect().toSeq
    assert(got == want)
    // native invariants hold: one partition tuple per file → a
    // partition predicate prunes exactly
    val files = t.snapshotDataFiles().size
    val hit = t.candidateFiles(col("day") === 1 && col("region") === "r0")
    assert(hit.nonEmpty && hit.size < files)
    // source tree untouched
    assert(spark.read.parquet(src).count() == 600)
  }

  test("ambiguous layouts refuse loudly") {
    // hive dirs through the flat door
    val root1 = scratch()
    spark.range(10).toDF("id").withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(root1 + "/t")
    val e1 = intercept[RuntimeException](
      VersionedTable(spark, root1 + "/t").convertFromParquet())
    assert(e1.getMessage.contains("convertFromHiveParquet"))
    // non-partition subdirectory
    val root2 = scratch()
    spark.range(10).toDF("id").write.parquet(root2 + "/t")
    spark.range(5).toDF("id").write.parquet(root2 + "/t/nested")
    val e2 = intercept[RuntimeException](
      VersionedTable(spark, root2 + "/t").convertFromParquet())
    assert(e2.getMessage.contains("subdirectories"))
    // empty dir
    val root3 = scratch()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root3 + "/t"))
    intercept[IllegalArgumentException](
      VersionedTable(spark, root3 + "/t").convertFromParquet())
    // reserved dv- prefix
    val root4 = scratch()
    spark.range(10).toDF("id").coalesce(1).write.parquet(root4 + "/t")
    val d = new java.io.File(root4 + "/t")
    val part = d.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(d, "dv-sneaky.parquet").toPath)
    val e4 = intercept[RuntimeException](
      VersionedTable(spark, root4 + "/t").convertFromParquet())
    assert(e4.getMessage.contains("dv-"))
    // an already-native lake table refuses (only convert-v0 is idempotent)
    val root5 = scratch()
    val t5 = VersionedTable(spark, root5 + "/t")
    t5.commitOverwrite(spark.range(10).toDF("id"))
    val e5 = intercept[RuntimeException](t5.convertFromParquet())
    assert(e5.getMessage.contains("already a graft-lake table"))
    // flat tree through the hive door
    val e6 = intercept[IllegalArgumentException](
      VersionedTable(spark, scratch() + "/x").convertFromHiveParquet(root2 + "/t"))
    assert(e6.getMessage.contains("not hive-partitioned"))
  }

  test("CALL gdfpc.system.convert through the SQL door") {
    val es = graft.GraftSqlSessions.withDml(spark)
    val wh = scratch()
    es.conf.set("spark.sql.catalog.gconv",
      "org.apache.spark.sql.graft.catalog.GraftCatalog")
    es.conf.set("spark.sql.catalog.gconv.warehouse", wh)
    // drop raw parquet into the warehouse, then adopt it by name
    es.range(0, 100).toDF("k").withColumn("v", col("k") * 3)
      .repartition(2).write.parquet(wh + "/raw")
    val v = es.sql("CALL gconv.system.convert('raw')").head().getInt(0)
    assert(v == 0)
    assert(es.sql("SELECT count(*) AS n FROM gconv.raw").head().getLong(0) == 100)
    es.sql("INSERT INTO gconv.raw SELECT 1000 AS k, 1 AS v")
    assert(es.sql("SELECT count(*) AS n FROM gconv.raw").head().getLong(0) == 101)
  }
}
