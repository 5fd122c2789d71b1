package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.GraftSqlSessions
import org.apache.spark.sql.graft.GraftDynamicFileScanExec

/** r19: AUTOMATIC dynamic file pruning (GraftAutoFilePruning) — a plain
  * star join on an UNPARTITIONED lake fact reads only the stat-hit
  * files, with no explicit readForKeys call. Pins:
  *  - the rewrite fires on the eligible shape and the execution OPENS
  *    only the pruned file subset (instrumented FS — the honest proof;
  *    AQE metric copies are undriven);
  *  - results are row-for-row the un-pruned join's, on every eligible
  *    join type and with extra fact-side filters captured;
  *  - every decline path declines: partition-key joins (Spark DPP's
  *    job), non-selective dims, small tables, preserved outer sides,
  *    DV overlays, the rule named in `spark.sql.optimizer.excludedRules`.
  */
class AutoDfpSpec extends AnyFunSuite {
  private lazy val base = TestSpark.spark
  /** The extensions-carrying session — the rule and strategy are
    * injected there, exactly as a user session configured with
    * spark.sql.extensions=graft.GraftExtensions. */
  private lazy val es: SparkSession = GraftSqlSessions.withDml(base)

  /** `f` with the rule turned off the way Spark turns off any
    * optimizer rule. */
  private def ruleExcluded[A](f: => A): A = {
    es.conf.set("spark.sql.optimizer.excludedRules",
      classOf[org.apache.spark.sql.graft.GraftAutoFilePruning].getName)
    try f finally es.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def dfpScans(df: DataFrame): Seq[GraftDynamicFileScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case s: GraftDynamicFileScanExec => s }
  }

  /** Fact: 4000 rows range-clustered on k into 16 files; dim: a
    * parquet-backed slice of the keyspace (file-backed so its filter
    * survives as a real Filter node). */
  private def fixture(scheme: String = "") = {
    val root = Files.createTempDirectory("graft-autodfp").toString
    val t = VersionedTable(es, scheme + root + "/t")
    t.commitOverwrite(es.range(0, 4000).toDF("k")
      .withColumn("v", col("k").cast("double") * 2.0)
      .withColumn("cat", concat(lit("c"), (col("k") % 7).cast("string")))
      .repartitionByRange(16, col("k")))
    val dimPath = root + "/dim"
    es.range(0, 4000).toDF("dk")
      .withColumn("tag", when(col("dk") < 250, "hot").otherwise("cold"))
      .write.mode("overwrite").parquet(dimPath)
    (t, es.read.parquet(dimPath))
  }

  test("fires on a plain inner star join, opens ONLY the stat-hit subset, matches the full join") {
    base.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val (t, dim) = fixture("cfs://")
    val hot = dim.filter(col("tag") === "hot") // dk < 250 → 1 of 16 files
    val joined = t.read().join(hot, col("k") === col("dk"))
      .groupBy("tag").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    assert(dfpScans(joined).nonEmpty, s"rule declined:\n${joined.queryExecution.optimizedPlan}")
    CountingLocalFs.reset()
    val got = joined.collect().toSeq
    val openedFact = CountingLocalFs.openedNames(p =>
      p.endsWith(".parquet") && p.contains("/t/") && !p.contains("_graft_log"))
    val total = t.snapshotDataFiles().size
    assert(openedFact.nonEmpty && openedFact.size < total,
      s"expected a strict subset of $total fact files, opened $openedFact")
    val scope = GraftDynamicFileScanExec.lastScope.get()
    assert(scope != null && scope._2 < scope._3, s"scope probe: $scope")
    assert(openedFact.subsetOf(t.snapshotDataFiles().toSet),
      "opened a file outside the snapshot")
    // control: rule off, same query, same session
    ruleExcluded {
      val control = t.read().join(hot, col("k") === col("dk"))
        .groupBy("tag").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(dfpScans(control).isEmpty)
      assert(got.sortBy(_.toString) == control.collect().toSeq.sortBy(_.toString))
    }
  }

  test("captured fact-side filters re-apply inside the nested read") {
    val (t, dim) = fixture()
    val hot = dim.filter(col("dk").between(100, 300))
    val joined = t.read().filter(col("cat") =!= "c3")
      .join(hot, col("k") === col("dk"))
      .agg(count(lit(1)).as("n"), round(sum("v"), 3).as("sv"))
    assert(dfpScans(joined).nonEmpty)
    val full = t.read().filter(col("cat") =!= "c3")
      .join(hot.hint("broadcast"), col("k") === col("dk")) // shape-perturbed control
    assert(joined.head() == full.agg(count(lit(1)).as("n"),
      round(sum("v"), 3).as("sv")).head())
  }

  test("eligible join types prune; preserved sides never do") {
    val (t, dim) = fixture()
    val slice = dim.filter(col("dk") < 200)
    // LeftSemi (fact left): fires, equals control
    val semi = t.read().join(slice, col("k") === col("dk"), "left_semi")
    assert(dfpScans(semi).nonEmpty)
    assert(semi.count() == 200)
    // RightOuter with fact on left: fact side droppable → fires
    val ro = t.read().join(slice, col("k") === col("dk"), "right_outer")
    assert(dfpScans(ro).nonEmpty)
    assert(ro.count() == 200)
    // LeftOuter with fact on left: fact rows preserved → MUST decline
    val lo = t.read().join(slice, col("k") === col("dk"), "left_outer")
    assert(dfpScans(lo).isEmpty, "pruned the preserved side of a left outer join")
    assert(lo.count() == 4000)
    // and the dim side of the left outer (droppable) is not a lake scan
    // here, so nothing fires at all
  }

  test("declines: non-selective dim, small table, partition-key join, conf off, DV overlay") {
    val (t, dim) = fixture()
    // non-selective dim (no filter)
    assert(dfpScans(t.read().join(dim, col("k") === col("dk"))).isEmpty)
    // rule excluded: the same eligible join plans the plain scan
    def eligible = t.read().join(dim.filter(col("dk") < 10), col("k") === col("dk"))
    assert(dfpScans(eligible).nonEmpty)
    ruleExcluded(assert(dfpScans(eligible).isEmpty))
    // small table (< 8 files)
    val small = VersionedTable(es,
      Files.createTempDirectory("graft-autodfp-small").toString + "/t")
    small.commitOverwrite(es.range(0, 100).toDF("k").coalesce(2))
    assert(dfpScans(small.read().join(dim.filter(col("dk") < 10),
      col("k") === col("dk"))).isEmpty)
    // partition-key join: Spark's own DPP territory — decline (10
    // partition files, so the size gate is not what declines)
    val part = VersionedTable(es,
      Files.createTempDirectory("graft-autodfp-part").toString + "/t")
    part.commitOverwritePartitioned(es.range(0, 1000).toDF("k")
      .withColumn("p", (col("k") % 10).cast("int")), Seq("p"))
    assert(part.snapshotDataFiles().size >= 8)
    val dimp = dim.filter(col("dk") < 3).withColumnRenamed("dk", "dp")
      .withColumn("dp", col("dp").cast("int"))
    assert(dfpScans(part.read().join(dimp, col("p") === col("dp"))).isEmpty)
    // DV overlay: MoR delete leaves deletion vectors → decline
    val (t2, dim2) = fixture()
    t2.deleteMoR(col("k") === 7L)
    val j2 = t2.read().join(dim2.filter(col("dk") < 50), col("k") === col("dk"))
    assert(dfpScans(j2).isEmpty, "fired through a DV overlay")
    assert(j2.count() == 49) // k=7 deleted
  }

  test("empty dim keys scope to an empty read; null keys stay correct") {
    val (t, dim) = fixture()
    val none = dim.filter(col("dk") < 0)
    val j = t.read().join(none, col("k") === col("dk"))
    assert(dfpScans(j).nonEmpty)
    assert(j.count() == 0)
    // dim keys with nulls: inner equi-join ignores them either way
    val withNulls = dim.filter(col("dk") < 100)
      .select(when(col("dk") % 10 === 0, null).otherwise(col("dk")).as("dk"))
    val jn = t.read().join(withNulls, col("k") === col("dk"))
    val expected = withNulls.filter(col("dk").isNotNull).count()
    assert(jn.count() == expected)
  }
}
