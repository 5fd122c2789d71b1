package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Nineteenth core tranche (round 12): storage-level co-location — the
  * fact-to-fact join technique the brief names alongside broadcast and
  * salting. A 100-TB warehouse cannot broadcast `orders` into
  * `lineitem`; it pre-buckets BOTH facts on the join key at ingest so
  * every subsequent join is bucket-to-bucket with NO shuffle of either
  * side (Spark reads bucket i of each table into the same task). The
  * layout cost is paid once per table write; every downstream join,
  * every day, skips two corpus-sized exchanges.
  *
  * The oracle is the plain relational join — bucketing must be
  * invisible in results. The shuffle-free plan shape is asserted
  * separately in BucketedJoinSpec (broadcast disabled there so the
  * sort-merge path is forced; at fixture scale the registry run may
  * legitimately plan a broadcast instead, which is also shuffle-free).
  */
object CoreQueries19 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  /** Write `df` as a bucketed, per-bucket-sorted table at a fresh
    * scratch path. 8 buckets on the join key — the count both sides
    * must share for bucket-to-bucket reads.
    */
  def writeBucketed(s: SparkSession, df: DataFrame, table: String,
                    key: String, path: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    // r20 (guide §6 "cluster before the write"): repartition by the
    // key into exactly the bucket count — Spark's repartition placement
    // (pmod(murmur3(key), 8)) IS the bucket-id function, so each task
    // holds exactly one bucket and writes ONE file (8 total, was
    // tasks×buckets = 24 from the unclustered input), with the
    // per-bucket sort and parquet encode running 8-wide instead of on
    // the scan's 3 natural splits. Same layout contract any bucketed
    // ingest wants at scale: one file per bucket per write.
    df.repartition(8, col(key)).write.mode("overwrite")
      .bucketBy(8, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
  }

  val all: Seq[QueryDef] = Seq(

    // Bucketed co-located join through the CORRECTNESS board: orders
    // and lineitem are both written bucketed by their order key (the
    // one-time ingest layout), then joined and aggregated. The timed
    // cost is the honest end-to-end path: two bucketed writes + the
    // co-located join + the (necessarily shuffled) final rollup. Only
    // the tiny priority rollup exchanges rows; the fact-to-fact join
    // itself moves nothing across the cluster.
    q("q_bucketed_join",
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val root = graft.lake.Scratch.dir("graft-bucketed")
      writeBucketed(s, orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders", "o_orderkey", root + "/orders")
      writeBucketed(s, lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_bkt_lineitem", "l_orderkey", root + "/lineitem")
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    },

    // Merge-on-read DML through the CORRECTNESS board (round 13): two
    // DELETEs land as DELETION VECTORS and an UPDATE lands DV-backed
    // (vector + new row images in ONE commit) — O(mutated rows) written,
    // ZERO data files rewritten (asserted from the commit ledger below:
    // each MoR commit only ADDS files) — then a copy-on-write UPDATE
    // absorbs the vectors for its affected files and OPTIMIZE purges the
    // rest. The final snapshot is compared relationally against the
    // oracle's WHERE/CASE equivalent, proving the whole MoR → absorb →
    // purge lifecycle leaves exactly the right rows. This is the
    // GDPR-erasure shape at 100 TB: selective mutations spread across
    // many large files cost mutated-rows bytes, not affected-file
    // bytes, and reads stay exact via the row-index anti-join until
    // compaction catches up.
    q("q_lake_dv",
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 5000
        |       THEN 'PROMOTED'
        |       WHEN c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 9000
        |       THEN 'LUXURY'
        |       ELSE c_mktsegment END AS segment,
        |  c_nationkey
        |FROM customer
        |WHERE c_acctbal >= 0 AND c_mktsegment <> 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-dv") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      t.commitOverwrite(customer(s, d).repartition(4))                    // v0
      t.deleteMoR(col("c_acctbal") < 0)                                   // v1
      t.deleteMoR(col("c_mktsegment") === "MACHINERY")                    // v2
      t.updateMoR(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000,
        Map("c_mktsegment" -> lit("PROMOTED")))                           // v3
      t.update(col("c_mktsegment") === "AUTOMOBILE" && col("c_acctbal") > 9000,
        Map("c_mktsegment" -> lit("LUXURY")))                             // v4
      t.optimize(targetRowsPerFile = 100000)                              // v5
      // proof the MoR commits rewrote nothing: each delete-dv added
      // vector files only (one per marking task) and kept every data
      // file, and the update-dv kept them all and ADDED new images
      val ledger = t.historyDF().orderBy("version")
        .select("action", "n_files").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
      val actions = ledger.map(_._1)
      if (actions != Seq("overwrite", "delete-dv", "delete-dv", "update-dv",
          "update", "optimize"))
        sys.error(s"q_lake_dv: unexpected commit chain $actions")
      val data = (0 to 3).map(v => t.snapshotDataFiles(Some(v)).toSet)
      if (data(1) != data(0) || data(2) != data(0) ||
          !data(0).subsetOf(data(3)) || data(3).size <= data(0).size ||
          ledger(1)._2 <= ledger(0)._2 || ledger(2)._2 <= ledger(1)._2)
        sys.error(s"q_lake_dv: MoR commit rewrote data files: $ledger")
      t.read()
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          col("c_nationkey"))
        .orderBy("c_custkey")
    },

    // Predicate-scoped overwrite (Delta's replaceWhere) through the
    // CORRECTNESS board: load the full events fact, then RE-LOAD its
    // earliest day with corrected values (×2) via replaceWhere — the
    // idempotent daily re-load primitive (running the same load twice
    // replaces the day with itself; out-of-scope rows are rejected
    // before anything commits, so a "day" can never leak into another).
    // Only files holding that day rewrite; the final snapshot's per-day
    // aggregate is compared against the oracle's CASE equivalent. The
    // min-day lookup is a 1-row aggregate head() — O(1) driver metadata,
    // the same class as the commit protocol's own log reads.
    q("q_lake_replace_where",
      """WITH e AS (SELECT strftime(date_trunc('day', ts::TIMESTAMP),
        |    '%Y-%m-%d') AS day, value FROM events),
        |  d0 AS (SELECT min(day) AS day0 FROM e)
        |SELECT day, count(*) AS n,
        |  round(sum(CASE WHEN day = (SELECT day0 FROM d0)
        |            THEN value * 2 ELSE value END), 6) AS vsum
        |FROM e GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-rw") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      val ev = events(s, d).select(col("event_id"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("value"))
      t.commitOverwrite(ev)                                               // v0
      val day0 = ev.agg(min("day")).head().getString(0)
      val reload = ev.filter(col("day") === day0)
        .withColumn("value", col("value") * 2)
      t.replaceWhere(col("day") === day0, reload)                         // v1
      // idempotence: the same re-load replaces itself (content stable)
      t.replaceWhere(col("day") === day0, reload)                         // v2
      if (t.history().map(_._2) != Seq("overwrite", "replaceWhere", "replaceWhere"))
        sys.error(s"q_lake_replace_where: unexpected chain ${t.history().map(_._2)}")
      t.read()
        .groupBy("day")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("vsum"))
        .orderBy("day")
    },

    // CHECK constraints through the CORRECTNESS board: a constraint is
    // added (validated against existing rows), a violating batch is
    // REJECTED atomically (asserted in-query: the version chain must
    // not advance), a clean batch lands, and the final snapshot is
    // compared relationally — proving the gate admits exactly the rows
    // the oracle's WHERE clause describes. This is the ingest-quality
    // contract at 100 TB: the constraint is ONE aggregation pass over
    // each incoming batch (never the table), enforced atomically with
    // the commit and re-validated if the append rebases across a racing
    // constraint change.
    q("q_lake_constraints",
      """SELECT c_mktsegment AS segment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS acct_sum
        |FROM customer
        |WHERE c_acctbal >= 0 AND c_custkey % 3 IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-cons") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      val cust = customer(s, d)
      t.commitOverwrite(
        cust.filter(col("c_custkey") % 3 === 0 && col("c_acctbal") >= 0)) // v0
      t.addConstraint("acct_nonneg", "c_acctbal >= 0")                    // v1
      val rejected =
        try { t.commitAppend(cust.filter(col("c_custkey") % 3 === 2)); false }
        catch { case e: RuntimeException
          if e.getMessage.contains("acct_nonneg") => true }
      if (!rejected || t.latestVersion().exists(_ != 1))
        sys.error("q_lake_constraints: violating batch was not rejected atomically")
      t.commitAppend(
        cust.filter(col("c_custkey") % 3 === 1 && col("c_acctbal") >= 0)) // v2
      t.read()
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("acct_sum"))
        .orderBy("segment")
    },

    // Conditional MERGE (round 14): a mixed CDC batch — tombstones,
    // updates, brand-new keys, and deletes for keys the table never had
    // — applied in ONE atomic commit through the full Delta WHEN
    // grammar (whenMatched(cond).delete / whenMatched(cond).updateAll /
    // whenNotMatched(cond).insertAll). Clause routing rides the
    // batch's `op` column (condition-frame-only: extra source columns
    // never land). Only files holding a claimed key rewrite — the
    // CDC-apply shape at 100 TB: the commit cost is affected-file
    // bytes + insert bytes, never the table — and the ledger proof
    // pins exactly one merge commit. The oracle is the CASE/anti-join
    // relational equivalent.
    q("q_lake_merge_cdc",
      """WITH survivors AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 1000
        |         ELSE c_acctbal END AS bal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |ins AS (
        |  SELECT c_custkey + 1000000 AS c_custkey, c_acctbal AS bal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 100 = 2)
        |SELECT c_custkey, c_mktsegment AS segment, round(bal, 2) AS acctbal
        |FROM (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      import graft.lake.Merge.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
      val dir = graft.lake.Scratch.dir("graft-vt-mcdc") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      val cust = customer(s, d)
      t.commitOverwrite(cust.repartition(4))                          // v0
      val tomb = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("op", lit("delete"))
      val ups = cust.filter(col("c_custkey") % 10 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .withColumn("op", lit("upsert"))
      val news = cust.filter(col("c_custkey") % 100 === 2)
        .withColumn("c_custkey", col("c_custkey") + 1000000)
        .withColumn("op", lit("upsert"))
      // deletes for keys the table never had — must claim nothing
      val ghosts = cust.filter(col("c_custkey") % 100 === 3)
        .withColumn("c_custkey", col("c_custkey") + 2000000)
        .withColumn("op", lit("delete"))
      val cdc = tomb.unionByName(ups).unionByName(news).unionByName(ghosts)
      val v = t.mergeConditional(cdc, Seq("c_custkey"), Seq(
        MatchedDelete(Some(col("s.op") === "delete")),
        MatchedUpdate(Some(col("s.op") === "upsert"), None),
        NotMatchedInsert(Some(col("s.op") === "upsert"))))            // v1
      if (!v.contains(1) || t.history().map(_._2) != Seq("overwrite", "merge"))
        sys.error(s"q_lake_merge_cdc: expected ONE atomic merge commit, " +
          s"got ${t.history().map(_._2)}")
      t.read().select(col("c_custkey"), col("c_mktsegment").as("segment"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_custkey")
    }
  )
}
