package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Twenty-fifth core tranche (round 19): AUTOMATIC dynamic file
  * pruning — the r18 frontier item. A user writing a PLAIN SQL star
  * join on an UNPARTITIONED lake fact (`fact JOIN dim ON k WHERE
  * dim.selective`) gets file-level pruning with no `readForKeys`
  * call: the injected pre-CBO rule
  * ([[org.apache.spark.sql.graft.GraftAutoFilePruning]]) rewrites the
  * fact scan into a deferred-file-list leaf that scopes the snapshot
  * through the stats sidecars at execution time. Delta ships this as
  * "dynamic file pruning"; Spark's own DPP only covers partition
  * columns.
  */
object CoreQueries25 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  private def finalPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  val all: Seq[QueryDef] = Seq(

    // AUTOMATIC dynamic file pruning, end-to-end through the SQL front
    // door: lineitem lands as a catalog lake table range-clustered by
    // orderkey on an INSTRUMENTED filesystem; the star join below is
    // plain SQL — no readForKeys, no hints. In-query proofs:
    // (a) the physical plan carries the GraftDynamicFileScanExec leaf
    //     (the pre-CBO rewrite fired through catalog resolution);
    // (b) executing it OPENED a strict subset of the fact's data files
    //     (ProbeFs records opens — runtime proof, not a plan claim);
    // (c) the scope probe saw hit < total files.
    // The oracle recomputes the join from raw parquet in DuckDB.
    q("q_lake_dfp_auto",
      """SELECT l_linestatus AS ls, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |JOIN (SELECT o_orderkey FROM orders
        |      WHERE o_orderkey > (SELECT max(o_orderkey) * 0.95 FROM orders)
        |        AND o_orderpriority = '1-URGENT') k
        |  ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val es = GraftSqlSessions.withDml(s)
      es.sparkContext.hadoopConfiguration
        .set("fs.gprobe.impl", classOf[graft.lake.ProbeFs].getName)
      if (!es.conf.getOption("spark.sql.catalog.gdfp").exists(_.nonEmpty)) {
        es.conf.set("spark.sql.catalog.gdfp",
          "org.apache.spark.sql.graft.catalog.GraftCatalog")
        es.conf.set("spark.sql.catalog.gdfp.warehouse",
          "gprobe://" + graft.lake.Scratch.dir("graft-dfp-wh"))
      }
      lineitem(es, d).select("l_orderkey", "l_linestatus", "l_extendedprice")
        .createOrReplaceTempView("dfp_li_src")
      es.sql("DROP TABLE IF EXISTS gdfp.li")
      es.sql("""CREATE TABLE gdfp.li AS
               |SELECT /*+ REPARTITION_BY_RANGE(16, l_orderkey) */ *
               |FROM dfp_li_src""".stripMargin)
      val mx = orders(es, d).agg(max("o_orderkey")).head().getLong(0)
      orders(es, d).select("o_orderkey", "o_orderpriority")
        .createOrReplaceTempView("dfp_ord_src")
      val sqlDf = es.sql(
        s"""SELECT l_linestatus AS ls, count(*) AS n,
           |  round(sum(l_extendedprice), 2) AS rev
           |FROM gdfp.li
           |JOIN (SELECT o_orderkey FROM dfp_ord_src
           |      WHERE o_orderkey > ${mx * 0.95}
           |        AND o_orderpriority = '1-URGENT') k
           |  ON l_orderkey = o_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin)
      val scans = finalPlan(sqlDf).collect {
        case e: org.apache.spark.sql.graft.GraftDynamicFileScanExec => e }
      if (scans.isEmpty)
        sys.error("q_lake_dfp_auto: the automatic DFP rule declined; " +
          s"plan:\n${sqlDf.queryExecution.optimizedPlan}")
      graft.lake.ProbeFs.reset()
      org.apache.spark.sql.graft.GraftDynamicFileScanExec.lastScope.set(null)
      sqlDf.collect()
      val t = graft.lake.VersionedTable(es,
        es.conf.get("spark.sql.catalog.gdfp.warehouse") + "/li")
      val total = t.snapshotDataFiles().size
      val opened = graft.lake.ProbeFs.openedNames(p =>
        p.endsWith(".parquet") && p.contains("/li/") && !p.contains("_graft_log"))
      if (opened.isEmpty || opened.size >= total)
        sys.error(s"q_lake_dfp_auto: expected a strict subset of $total " +
          s"fact files opened, got ${opened.size}: $opened")
      if (!opened.subsetOf(t.snapshotDataFiles().toSet))
        sys.error(s"q_lake_dfp_auto: opened files outside the snapshot: $opened")
      val scope = org.apache.spark.sql.graft.GraftDynamicFileScanExec.lastScope.get()
      if (scope == null || scope._2 >= scope._3)
        sys.error(s"q_lake_dfp_auto: scope probe saw no pruning: $scope")
      sqlDf
    },

    // CONVERT TO graft-lake, end-to-end: raw parquet (orders) dropped
    // in a directory is adopted IN PLACE — the v0 commit's add actions
    // reference the pre-existing files by IDENTITY (asserted), stats
    // are backfilled, and the adopted table is immediately a full
    // citizen: an append and an arbitrary-predicate DELETE land as
    // ordinary commits on top. Re-convert is an idempotent no-op
    // (asserted). The oracle recomputes the final state from raw
    // parquet in DuckDB.
    q("q_lake_convert",
      """WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice
        |              FROM orders),
        |mx AS (SELECT max(o_orderkey) AS m FROM base),
        |app AS (SELECT o_orderkey + (SELECT m FROM mx) + 1 AS o_orderkey,
        |               o_orderpriority, o_totalprice
        |        FROM base WHERE o_orderkey % 97 = 0),
        |final AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT o_orderpriority AS pri, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM final WHERE o_orderkey % 13 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-convert") + "/t"
      val base = orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      base.repartitionByRange(8, col("o_orderkey")).write.parquet(dir)
      val before = s.read.parquet(dir).inputFiles
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      val t = graft.lake.VersionedTable(s, dir)
      if (t.convertFromParquet() != 0)
        sys.error("q_lake_convert: convert did not land as v0")
      if (t.snapshotDataFiles(Some(0)).toSet != before)
        sys.error("q_lake_convert: v0 does not reference the " +
          "pre-existing files by identity")
      if (t.convertFromParquet() != 0)
        sys.error("q_lake_convert: re-convert was not an idempotent no-op")
      val mx = base.agg(max("o_orderkey")).head().getLong(0)
      t.commitAppend(base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + mx + 1))
      if (t.delete(col("o_orderkey") % 13 === 0).isEmpty)
        sys.error("q_lake_convert: DELETE on the adopted table was a no-op")
      t.read().groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("pri")
    },

    // Per-file BLOOM skipping on a layout min/max provably cannot
    // prune: orders HASH-distributed by o_orderkey (every file's key
    // range covers the keyspace), point lookup on a mid-keyspace key.
    // In-query proofs: (a) every file's recorded o_orderkey [min, max]
    // holds the key, so stats alone keep EVERY file (the fixture
    // defeats min/max by construction);
    // (b) with blooms the candidate set is a strict subset; (c) the
    // instrumented FS shows execution opened only that subset. The
    // oracle recomputes the row from raw parquet.
    q("q_lake_bloom_skipping",
      """WITH mid AS (SELECT min(o_orderkey) AS k FROM orders
        |             WHERE o_orderkey >= (SELECT max(o_orderkey) // 2 FROM orders))
        |SELECT o_orderkey AS okey, o_orderpriority AS pri,
        |  round(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderkey = (SELECT k FROM mid)
        |ORDER BY 1""".stripMargin) { (s, d) =>
      s.sparkContext.hadoopConfiguration
        .set("fs.gprobe.impl", classOf[graft.lake.ProbeFs].getName)
      val dir = graft.lake.Scratch.dir("graft-vt-bloom") + "/t"
      val t = graft.lake.VersionedTable(s, "gprobe://" + dir)
      s.conf.set("spark.graft.lake.bloom.columns", "o_orderkey")
      try {
        t.commitOverwrite(orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .repartition(16, col("o_orderkey")))
      } finally s.conf.unset("spark.graft.lake.bloom.columns")
      val mx = orders(s, d).agg(max("o_orderkey")).head().getLong(0)
      val key = orders(s, d).filter(col("o_orderkey") >= mx / 2)
        .agg(min("o_orderkey")).head().getLong(0)
      val total = t.snapshotDataFiles().size
      val statsKeep = t.filesHitByKeys(s.range(1).select(lit(key).as("o_orderkey")),
        Seq("o_orderkey")).size
      if (statsKeep != total)
        sys.error(s"q_lake_bloom_skipping: fixture failed — stats alone " +
          s"prune ${total - statsKeep} of $total (layout not uniform?)")
      val bloomHit = t.candidateFiles(col("o_orderkey") === key)
      if (bloomHit.isEmpty || bloomHit.size >= total)
        sys.error(s"q_lake_bloom_skipping: expected a strict subset, " +
          s"got ${bloomHit.size} of $total")
      graft.lake.ProbeFs.reset()
      val out = t.readWhere(col("o_orderkey") === key)
        .select(col("o_orderkey").as("okey"),
          col("o_orderpriority").as("pri"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("okey")
      val n = out.count()
      if (n < 1) sys.error("q_lake_bloom_skipping: key vanished")
      val opened = graft.lake.ProbeFs.openedNames(p =>
        p.endsWith(".parquet") && p.contains("/t/") && !p.contains("_graft_log"))
      if (!opened.subsetOf(bloomHit.toSet))
        sys.error(s"q_lake_bloom_skipping: opened beyond the bloom " +
          s"candidates: ${opened -- bloomHit.toSet}")
      out
    },

    // NOT NULL column constraints (Delta parity beside CHECK): the
    // declaration validates EXISTING rows (a null-holding column
    // refuses it — asserted), a violating batch atomically rejects
    // with the version chain unmoved (asserted), a clean batch lands,
    // and the final snapshot is compared relationally. Enforcement is
    // the same one-pass batch validation CHECK uses — O(batch), never
    // O(table).
    q("q_lake_not_null",
      """WITH base AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS clerk,
        |  o_totalprice FROM orders),
        |v0 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 2 = 0),
        |v2 AS (SELECT o_orderkey, coalesce(clerk, 'NONE') AS clerk, o_totalprice
        |       FROM base WHERE o_orderkey % 2 = 1),
        |final AS (SELECT * FROM v0 UNION ALL SELECT * FROM v2)
        |SELECT o_orderkey % 5 AS g, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-notnull") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      val base = orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_orderstatus")).as("clerk"),
        col("o_totalprice"))
      t.commitOverwrite(base.filter(
        col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 2 === 0))   // v0
      t.setNotNull("clerk")                                            // v1
      if (t.notNullColumns() != Seq("clerk"))
        sys.error("q_lake_not_null: declaration did not land")
      // a column with nulls in the CURRENT data refuses the declaration
      val preRejected =
        try { t.setNotNull("clerk"); true } // idempotent re-declare is fine
        catch { case _: RuntimeException => false }
      if (!preRejected) sys.error("q_lake_not_null: idempotent re-declare failed")
      val rejected =
        try { t.commitAppend(base.filter(col("o_orderkey") % 2 === 1)); false }
        catch { case e: RuntimeException
          if e.getMessage.contains("__notnull__clerk") => true }
      if (!rejected || t.latestVersion().exists(_ != 1))
        sys.error("q_lake_not_null: violating batch was not rejected atomically")
      t.commitAppend(base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("clerk", coalesce(col("clerk"), lit("NONE"))))     // v2
      t.read().groupBy((col("o_orderkey") % 5).as("g"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("g")
    }
  )
}
