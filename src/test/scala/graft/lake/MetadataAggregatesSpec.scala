package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import org.apache.spark.sql.graft.GraftMetadataAggregates

/** r18: metadata-only count/min/max (Delta's
  * OptimizeMetadataOnlyDeltaQuery shape). The rule rewrites an exact-
  * shape aggregate over a lake snapshot into a LocalRelation computed
  * from the commit log + stats sidecars, and DECLINES — silently, to
  * the real scan — whenever the metadata answer could differ from the
  * scan's. */
class MetadataAggregatesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = VersionedTable(spark,
    Files.createTempDirectory("graft-metaagg").toString + "/t")

  /** Apply the rule to df's optimized plan; Some(rewritten) if it fired. */
  private def rewritten(df: DataFrame): Option[DataFrame] = {
    val out = GraftMetadataAggregates(df.queryExecution.optimizedPlan)
    if (out.isInstanceOf[LocalRelation])
      Some(org.apache.spark.sql.graft.PlanProbe.ofRows(spark, out))
    else None
  }

  test("count(*)/count(c)/min/max answer from metadata and match the real scan exactly") {
    val t = fresh()
    t.commitOverwrite(Seq(
      (1L, Some(2.5), "alpha", java.sql.Date.valueOf("2024-01-03")),
      (2L, None, "omega", java.sql.Date.valueOf("2024-02-01")),
      (3L, Some(-1.5), "beta", java.sql.Date.valueOf("2023-12-25"))
    ).toDF("id", "x", "s", "d"))
    t.commitAppend(Seq(
      (4L, Some(9.25), "zz", java.sql.Date.valueOf("2024-03-09")),
      (5L, None, "aa", java.sql.Date.valueOf("2024-01-01"))
    ).toDF("id", "x", "s", "d"))
    val agg = t.read().agg(
      count(lit(1)).as("n"), count(col("x")).as("nx"),
      min("x").as("mnx"), max("x").as("mxx"),
      min("s").as("mns"), max("s").as("mxs"),
      min("d").as("mnd"), max("d").as("mxd"),
      min("id").as("mni"), max("id").as("mxi"))
    val meta = rewritten(agg).getOrElse(
      fail(s"rule declined:\n${agg.queryExecution.optimizedPlan}"))
    assert(meta.collect().toSeq == agg.collect().toSeq)
    val r = meta.head()
    assert(r.getLong(0) == 5 && r.getLong(1) == 3)
    assert(r.getDouble(2) == -1.5 && r.getDouble(3) == 9.25)
    assert(r.getString(4) == "aa" && r.getString(5) == "zz")
  }

  test("metadata aggregates open ZERO data files") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val dir = Files.createTempDirectory("graft-metaagg-fs").toString + "/t"
    VersionedTable(spark, dir)
      .commitOverwrite((1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = VersionedTable(spark, "cfs://" + dir)
    val agg = t.read().agg(count(lit(1)).as("n"),
      min("id").as("mn"), max("id").as("mx"))
    CountingLocalFs.reset()
    val meta = rewritten(agg).getOrElse(fail("rule declined"))
    assert(meta.head() == org.apache.spark.sql.Row(500L, 1L, 500L))
    val opened = CountingLocalFs.openedNames(p =>
      p.endsWith(".parquet") && !p.contains("_graft_log"))
    assert(opened.isEmpty, s"metadata aggregate opened data files: $opened")
  }

  test("the rule declines every shape whose metadata answer could differ from the scan") {
    val t = fresh()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // a Filter breaks the shape
    assert(rewritten(t.read().filter(col("id") > 1).agg(count(lit(1)))).isEmpty)
    // an unsupported aggregate declines the whole rewrite
    assert(rewritten(t.read().agg(avg("id"), count(lit(1)))).isEmpty)
    // count(NULL literal) is 0, not rows — must not bind to the log count
    assert(rewritten(t.read().agg(count(lit(null)))).isEmpty)
    // DV overlay: stats describe pre-delete rows
    t.deleteMoR(col("id") === 2L)
    assert(rewritten(t.read().agg(count(lit(1)))).isEmpty)
    assert(t.read().count() == 2) // the real scan stays correct

    // schema evolution: old files lack the new column's stats —
    // count/min/max on it decline (null-filled rows are invisible to
    // the sidecars)
    val t2 = fresh()
    t2.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t2.commitAppend(Seq((2L, "b", 5.0)).toDF("id", "v", "x"),
      allowNewColumns = true)
    assert(rewritten(t2.read().agg(count(col("x")))).isEmpty)
    assert(rewritten(t2.read().agg(min(col("x")))).isEmpty)
    // but count(*) still answers from the log
    assert(rewritten(t2.read().agg(count(lit(1)).as("n")))
      .map(_.head().getLong(0)).contains(2L))

    // truncated string stats: min/max decline (a prefix is a bound,
    // not the value)
    val t3 = fresh()
    t3.commitOverwrite(Seq(("a" * 200, 1L), ("b" * 200, 2L)).toDF("s", "n"))
    assert(rewritten(t3.read().agg(min("s"))).isEmpty)
    assert(rewritten(t3.read().agg(max("n")).limit(1)).nonEmpty ||
      rewritten(t3.read().agg(max("n"))).nonEmpty) // numeric col still fine
  }

  test("r19: -0.0 / 0.0 bound tie picks the sign a real scan can observe") {
    val t = fresh()
    // two files whose double bounds are BigDecimal-equal but
    // sign-distinguishable; min must surface -0.0, max +0.0
    t.commitOverwrite(Seq(Tuple1(0.0d)).toDF("x"))
    t.commitAppend(Seq(Tuple1(-0.0d)).toDF("x"))
    val meta = rewritten(t.read().agg(min("x").as("mn"), max("x").as("mx")))
      .getOrElse(fail("rule declined"))
    val r = meta.head()
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(-0.0d), s"min was ${r.getDouble(0)}")
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(0.0d), s"max was ${r.getDouble(1)}")
    // and the file order doesn't matter
    val t2 = fresh()
    t2.commitOverwrite(Seq(Tuple1(-0.0d)).toDF("x"))
    t2.commitAppend(Seq(Tuple1(0.0d)).toDF("x"))
    val r2 = rewritten(t2.read().agg(min("x").as("mn"), max("x").as("mx")))
      .getOrElse(fail("rule declined")).head()
    assert(java.lang.Double.doubleToRawLongBits(r2.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(-0.0d))
    assert(java.lang.Double.doubleToRawLongBits(r2.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(0.0d))
  }

  test("min/max through a column RENAME (mapped snapshot, physical-keyed stats)") {
    val t = fresh()
    t.commitOverwrite(Seq((1L, 10.0), (2L, 30.0), (3L, 20.0)).toDF("id", "v"))
    t.renameColumn("v", "score")
    val agg = t.read().agg(count(lit(1)).as("n"),
      min("score").as("mn"), max("score").as("mx"))
    val meta = rewritten(agg).getOrElse(fail("rule declined on mapped snapshot"))
    assert(meta.head() == org.apache.spark.sql.Row(3L, 10.0, 30.0))
  }

  test("GROUP BY the partition columns answers from metadata; other groupings decline") {
    val t = fresh()
    t.commitOverwritePartitioned(Seq[(String, Long, Option[Double])](
      ("a", 1L, Some(10.0)), ("a", 2L, Some(30.0)), ("b", 3L, Some(20.0)),
      ("b", 4L, None), ("c", 5L, Some(5.5))
    ).toDF("day", "id", "v"), Seq("day"))
    val agg = t.read().groupBy("day").agg(
      count(lit(1)).as("n"), count(col("v")).as("nv"),
      min("v").as("mn"), max("id").as("mxid"))
    val meta = rewritten(agg).getOrElse(
      fail(s"grouped rule declined:\n${agg.queryExecution.optimizedPlan}"))
    assert(meta.orderBy("day").collect().toSeq ==
      agg.orderBy("day").collect().toSeq)
    // DISTINCT pcol is the degenerate grouped shape
    val d = t.read().select("day").distinct()
    val dm = rewritten(d).getOrElse(
      fail(s"DISTINCT pcol declined:\n${d.queryExecution.optimizedPlan}"))
    assert(dm.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
    // a NON-partition grouping declines (files mix id values)
    assert(rewritten(t.read().groupBy("id").agg(count(lit(1)))).isEmpty)
    // grouped metadata answers open zero data files
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val t2 = VersionedTable(spark, "cfs://" + t.tablePath)
    val agg2 = t2.read().groupBy("day").agg(count(lit(1)).as("n"))
    CountingLocalFs.reset()
    val meta2 = rewritten(agg2).getOrElse(fail("declined on cfs handle"))
    assert(meta2.count() == 3)
    assert(CountingLocalFs.openedNames(p =>
      p.endsWith(".parquet") && !p.contains("_graft_log")).isEmpty)
  }

  test("the SQL door runs the rule via the extensions (injected optimizer rule)") {
    // reuse the catalog-style extensions session pattern
    val prev = TestSpark.spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    try {
      org.apache.spark.sql.SparkSession.setActiveSession(s)
      val wh = Files.createTempDirectory("graft-metaagg-wh").toString
      s.conf.set("spark.sql.catalog.gm",
        "org.apache.spark.sql.graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.gm.warehouse", wh)
      val vt = VersionedTable(s, s"$wh/tm")
      import s.implicits._
      vt.commitOverwrite((1L to 100L).map(i => (i, i * 2.0)).toDF("id", "x"))
      val q = s.sql("SELECT count(*) AS n, max(x) AS mx FROM gm.tm")
      assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"expected a metadata-only LocalRelation plan:\n" +
          q.queryExecution.optimizedPlan)
      assert(q.head() == org.apache.spark.sql.Row(100L, 200.0))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
    }
  }
}
