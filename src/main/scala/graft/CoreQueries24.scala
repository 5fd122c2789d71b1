package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Twenty-fourth core tranche (round 18): the lake's JOIN-DRIVEN file
  * pruning and metadata-answered partition queries — the r17 verdict's
  * top remaining asks.
  *
  *  - `q_lake_dpp`: the partition-aware native file index exposes a
  *    REAL `partitionSchema` (per-file tuples recovered from min = max
  *    stats), so Spark's OWN dynamic partition pruning fires on the
  *    classic star shape — a selective dim filter prunes fact FILES at
  *    runtime. At 100 TB this is the difference between scanning every
  *    fact file and scanning the 1% a dim filter selects.
  *  - `q_lake_dfp_keys`: the same pruning for UNPARTITIONED facts via
  *    `readForKeys` (Delta's dynamic file pruning as an explicit
  *    operator): the dim's keys join the per-file stats distributedly,
  *    and the fact scan reads only the hit files.
  *  - `q_partition_meta`: `SELECT pcol, count(*)` answered ENTIRELY
  *    from the commit log + stats sidecars — zero data files opened
  *    (proven by an instrumented FS in PartitionedLakeSpec).
  *  - `q_lake_colmap_scan`: after RENAME + DROP COLUMN the table now
  *    scans NATIVELY (physical-schema vectorized scan + logical
  *    projection) instead of paying the V1 row bridge's ~1.4× forever.
  */
object CoreQueries24 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  /** The final physical plan under AQE's root (plan-shape asserts must
    * look through AdaptiveSparkPlanExec — collect doesn't descend). */
  private def finalPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  val all: Seq[QueryDef] = Seq(

    // Star join with DYNAMIC partition pruning: lake customers
    // partitioned by nation, dim side = nation filtered to one region.
    // In-query proofs: (a) the physical plan carries a
    // DynamicPruningExpression on the fact scan's partition filters;
    // (b) the scan's statically-selected partition count equals the
    // table's partition count (pruning is genuinely RUNTIME, from the
    // dim side).
    q("q_lake_dpp",
      """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-dpp") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwritePartitioned(
        customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal"),
        Seq("c_nationkey"))
      val dim = nation(s, d).filter(col("n_regionkey") === 2)
      val joined = t.read()
        .join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("bal"))
        .orderBy("n_name")
      val plan = finalPlan(joined)
      val scans = plan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
            if sc.relation.partitionSchema.fieldNames.contains("c_nationkey") => sc
      }
      if (scans.isEmpty)
        sys.error("q_lake_dpp: fact scan lost its partitionSchema")
      val hasDpp = scans.exists(_.partitionFilters.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])))
      if (!hasDpp)
        sys.error("q_lake_dpp: no DynamicPruningExpression on the fact " +
          s"scan's partition filters: ${scans.map(_.partitionFilters)}")
      joined
    },

    // Join-driven file pruning on an UNPARTITIONED fact: lineitem
    // range-clustered by orderkey, dim side = an incremental reprocess
    // slice (the newest ~5% of orders — key-correlated with the
    // clustering, the layout discipline that makes DFP bite; uniform
    // keys correctly prune nothing). In-query proof: the key-driven
    // file scope is a strict subset of the snapshot, and the pruned
    // join returns the same rows a full join would (asserted on count).
    q("q_lake_dfp_keys",
      """SELECT l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |JOIN (SELECT o_orderkey FROM orders
        |      WHERE o_orderkey > (SELECT max(o_orderkey) * 0.95 FROM orders)
        |        AND o_orderpriority = '1-URGENT') k
        |  ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-dfp") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwrite(
        lineitem(s, d).select("l_orderkey", "l_linestatus", "l_extendedprice")
          .repartitionByRange(16, col("l_orderkey")))
      val maxKey = orders(s, d).agg(max("o_orderkey")).head().getLong(0)
      val keys = orders(s, d)
        .filter(col("o_orderkey") > maxKey * 0.95 &&
          col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val scoped = t.filesHitByKeys(keys.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"))
      val total = t.snapshotDataFiles().size
      if (scoped.size >= total || scoped.isEmpty)
        sys.error(s"q_lake_dfp_keys: expected a strict file subset, " +
          s"got ${scoped.size} of $total")
      val pruned = t.readForKeys(
        keys.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"))
        .join(keys, col("l_orderkey") === col("o_orderkey"))
      val full = t.read().join(keys, col("l_orderkey") === col("o_orderkey"))
      if (pruned.count() != full.count())
        sys.error("q_lake_dfp_keys: pruned join drifted from the full join")
      pruned.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("l_linestatus")
    },

    // Metadata-only partition aggregation: per-partition row counts
    // answered from the log + sidecars (zero data reads — instrumented
    // proof in PartitionedLakeSpec); the oracle does the real GROUP BY.
    q("q_partition_meta",
      """SELECT o_orderpriority AS pri, count(*) AS rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-pmeta") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwritePartitioned(
        orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"))
      t.partitionStats()
        .select(col("o_orderpriority").as("pri"), col("rows"))
        .orderBy("pri")
    },

    // TIMESTAMP_NTZ data skipping (r18): the fixtures' timestamps are
    // physical timestamp[us] with no zone — Spark reads TIMESTAMP_NTZ —
    // and the stats layer previously collected NOTHING for them, so no
    // temporal predicate ever pruned a lake table built from raw
    // fixtures. Stats now encode NTZ as wall micros (UTC-session-gated
    // collection; evaluation is session-independent). In-query proof:
    // a half-range predicate on a date-clustered table plans a strict
    // file subset.
    q("q_lake_ntz_skipping",
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS tot
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-ntz") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwrite(orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .repartitionByRange(8, col("o_orderdate")))
      val pred = col("o_orderdate") >= expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'")
      val total = t.snapshotDataFiles().size
      val cand = t.candidateFiles(pred)
      if (cand.isEmpty || cand.size >= total)
        sys.error(s"q_lake_ntz_skipping: expected a strict file subset " +
          s"for the NTZ range predicate, got ${cand.size} of $total")
      t.readWhere(pred)
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
    },

    // METADATA-ONLY count/min/max (Delta's OptimizeMetadataOnlyDeltaQuery
    // shape): the rule must rewrite the whole aggregate into a
    // LocalRelation — zero files scanned (instrumented proof in
    // MetadataAggregatesSpec) — and the values must match the oracle's
    // real scan. The rule is applied explicitly here (the driver's
    // session carries no extensions); extension sessions run it
    // automatically on SQL.
    q("q_meta_agg",
      """SELECT count(*) AS n, count(o_orderpriority) AS n_pri,
        |  min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
        |  min(o_orderpriority) AS mn_pri,
        |  max(CAST(o_orderdate AS DATE)) AS mx_date
        |FROM orders""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-metaagg") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwrite(orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate")))
      val agg = t.read().agg(
        count(lit(1)).as("n"), count(col("o_orderpriority")).as("n_pri"),
        min("o_totalprice").as("mn_price"), max("o_totalprice").as("mx_price"),
        min("o_orderpriority").as("mn_pri"), max("o_orderdate").as("mx_date"))
      val out = org.apache.spark.sql.graft.GraftMetadataAggregates(
        agg.queryExecution.optimizedPlan)
      if (!out.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        sys.error("q_meta_agg: the metadata-aggregate rule declined; " +
          s"plan:\n${agg.queryExecution.optimizedPlan}")
      org.apache.spark.sql.GraftColumnBridge.ofRows(s, out)
    },

    // GROUPED metadata aggregates: GROUP BY the partition columns rides
    // the one-value-per-file layout — per-partition count/min/max from
    // the recovered tuples + per-file stats, zero data files
    // (instrumented proof in MetadataAggregatesSpec).
    q("q_meta_group",
      """SELECT o_orderpriority AS pri, count(*) AS n,
        |  round(max(o_totalprice), 2) AS mx
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-metagrp") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwritePartitioned(
        orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"))
      val agg = t.read().groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx0"))
      val out = org.apache.spark.sql.graft.GraftMetadataAggregates(
        agg.queryExecution.optimizedPlan)
      if (!out.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        sys.error("q_meta_group: the grouped metadata rule declined; " +
          s"plan:\n${agg.queryExecution.optimizedPlan}")
      org.apache.spark.sql.GraftColumnBridge.ofRows(s, out)
        .select(col("pri"), col("n"), round(col("mx0"), 2).as("mx"))
        .orderBy("pri")
    },

    // Column-mapped NATIVE scan: rename + drop, then a scan-bound
    // aggregate. In-query proof: the plan bottoms out in a vectorized
    // FileSourceScanExec over the graft index reading the PHYSICAL
    // schema — not the V1 row bridge.
    q("q_lake_colmap_scan",
      """SELECT l_returnflag AS flag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-cmscan") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwrite(lineitem(s, d)
        .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate"))
      t.renameColumn("l_returnflag", "flag_renamed")
      t.dropColumn("l_shipdate")
      val df = t.read()
      val scans = finalPlan(df).collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }
      if (scans.size != 1 || !scans.head.relation.location
          .isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
        sys.error("q_lake_colmap_scan: mapped snapshot did not plan the " +
          "native GraftFileIndex scan:\n" + finalPlan(df).treeString)
      if (!scans.head.relation.dataSchema.fieldNames.contains("l_returnflag"))
        sys.error("q_lake_colmap_scan: native scan must read the stable " +
          s"PHYSICAL name, got ${scans.head.relation.dataSchema.fieldNames.toSeq}")
      df.groupBy(col("flag_renamed").as("flag"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("flag")
    }
  )
}
