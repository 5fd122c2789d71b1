package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Twenty-first core tranche (round 15): the versioned lake as a
  * Structured Streaming SOURCE — `readStream.format("graft-lake")`
  * (org.apache.spark.sql.graft.GraftLakeSourceProvider) turns the
  * table's change feed into engine-checkpointed micro-batches, the
  * read-side completion of the exactly-once sink (CoreQueries18).
  * Together they close the loop: lake → stream → lake, offsets and
  * batch ids carried by the engine, no hand-rolled cursor.
  */
object CoreQueries21 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  val all: Seq[QueryDef] = Seq(

    // Lake-to-lake streaming: Bronze commits (2 appends after the seed,
    // then a MoR delete of every 'error' event) are consumed by a REAL
    // streaming query over the graft-lake source — each commit arrives
    // as one micro-batch whose offset IS the commit version — and
    // applied to Silver the medallion way: delete leg through a keyed
    // deletion-vector delete (replay finds the keys already hidden),
    // insert leg through a batch-id-keyed idempotent append. In-query
    // asserts pin the mechanism: 4 micro-batches for 4 commits, the
    // streamed row multiset equals changesBetween(-1, head), and Silver's txn
    // ledger records each insert batch exactly once. The oracle
    // recomputes Silver from the raw events in one batch query —
    // equality proves the streamed application converges. Scale shape:
    // each micro-batch reads only its commit's changed files (offset
    // probe is O(1) log-head metadata), so a 100 TB Bronze streams to
    // Silver at the cost of the CHANGES, never the table.
    q("q_lake_stream_source",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS vsum
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = graft.lake.Scratch.dir("graft-lake-src")
      val bronzeDir = base + "/bronze"
      val silverDir = base + "/silver"
      val ckpt = base + "/ckpt"
      val bronze = graft.lake.VersionedTable(s, bronzeDir)
      val silver = graft.lake.VersionedTable(s, silverDir)
      val ev = events(s, d).select("event_id", "event_type", "value")
      def slice(i: Int): DataFrame = ev.filter(pmod(col("event_id"), lit(3)) === i)
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      val streamedRows = new java.util.concurrent.atomic.AtomicLong(0L)

      bronze.commitOverwrite(slice(0))                               // v0
      val query = s.readStream.format("graft-lake").load(bronzeDir)
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          batches.incrementAndGet()
          val changes = df.cache()
          try {
            streamedRows.addAndGet(changes.count())
            // medallion-style apply: tombstones first (replay-safe by
            // semantics — the keys are already gone), then the netted
            // inserts exactly-once by batch id
            // (r19 measured: fusing this count with the two emptiness
            // probes into a groupBy aggregation LOSES — the plain count
            // doubles as the cache materializer in one stage, and the
            // cached probes are near-free: 5.1→7.1 s with the fuse.
            // r20 measured: riding the probes on the count via
            // Dataset.observe ALSO loses, 4.4→5.5 s — Observation.get
            // blocks on the async QueryExecutionListener bus per batch,
            // costing ~270 ms/batch; the cached limit(1) probes stay.)
            // Tombstones as a keyed deletion-vector delete, not a
            // conditional-merge rewrite. A/B (ProfileQuery, sf0.1, 4
            // cores, 10-11 runs a side): 43 -> 38 jobs, cold median
            // 6.84 -> 5.94 s, warm 2.54 -> 2.59 s (inside the warm
            // IQR of 2.41-2.76 s).
            val delKeys = changes.filter(col("_change_type") === "delete")
              .select("event_id")
            if (!delKeys.isEmpty) silver.deleteMoR(delKeys, Seq("event_id"))
            val ins = changes.filter(col("_change_type") === "insert")
              .select("event_id", "event_type", "value")
            if (!ins.isEmpty) {
              silver.commitAppendIdempotent(ins, "lake2lake", id)
              ()
            }
          } finally { changes.unpersist(); () }
        }
        .option("checkpointLocation", ckpt)
        .start()
      try {
        query.processAllAvailable()
        bronze.commitAppend(slice(1))                                // v1
        query.processAllAvailable()
        bronze.commitAppend(slice(2))                                // v2
        query.processAllAvailable()
        if (bronze.deleteMoR(col("event_type") === "error").isEmpty) // v3
          sys.error("q_lake_stream_source: fixture has no 'error' events")
        query.processAllAvailable()
      } finally query.stop()

      if (batches.get() != 4)
        sys.error(s"q_lake_stream_source: expected 4 micro-batches for 4 " +
          s"commits, got ${batches.get()}")
      // the streamed multiset is exactly the change feed
      val feedRows = bronze.changesBetween(-1, 3).count()
      if (streamedRows.get() != feedRows)
        sys.error(s"q_lake_stream_source: streamed ${streamedRows.get()} " +
          s"change rows, changesBetween says $feedRows")
      // exactly-once ledger: one insert commit per insert-bearing batch
      val ledger = silver.historyDF()
        .filter(col("txn_app") === "lake2lake")
        .select("txn_batch").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      if (ledger != Seq(0L, 1L, 2L))
        sys.error(s"q_lake_stream_source: insert ledger $ledger != 0,1,2")
      silver.read()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("vsum"))
        .orderBy("event_type")
    },

    // The SINK side of the format string (round 15): lake → stream →
    // lake with NO foreachBatch — writeStream.format("graft-lake")
    // lands each micro-batch as a batch-id-keyed idempotent append
    // (GraftLakeSink), the engine carries the offsets, the commit
    // ledger carries delivery. Three Bronze commits arrive as three
    // micro-batches; after the stream stops, the last batch is
    // re-delivered through the same idempotent path (the restart
    // shape) and must no-op. The in-query ledger asserts pin one sink
    // commit per batch id; the output re-aggregates Silver, and the
    // oracle recomputes it from raw events. Blind appends: per-batch
    // sink cost is O(batch) at any table size.
    q("q_lake_stream_sink_fmt",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS vsum
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = graft.lake.Scratch.dir("graft-lake-snk")
      val bronzeDir = base + "/bronze"
      val silverDir = base + "/silver"
      val bronze = graft.lake.VersionedTable(s, bronzeDir)
      val silver = graft.lake.VersionedTable(s, silverDir)
      val ev = events(s, d).select("event_id", "event_type", "value")
      def slice(i: Int): DataFrame = ev.filter(pmod(col("event_id"), lit(3)) === i)
      bronze.commitOverwrite(slice(0))                                // v0
      val query = s.readStream.format("graft-lake").load(bronzeDir)
        .filter(col("_change_type") === "insert")
        .drop("_commit_version", "_change_type")
        .writeStream.format("graft-lake")
        .option("appId", "fmt-sink")
        .option("checkpointLocation", base + "/ckpt")
        .start(silverDir)
      try {
        query.processAllAvailable()
        bronze.commitAppend(slice(1))                                 // v1
        query.processAllAvailable()
        bronze.commitAppend(slice(2))                                 // v2
        query.processAllAvailable()
      } finally query.stop()
      // restart-shaped replay: batch 2 re-delivered → ledger no-op
      if (silver.commitAppendIdempotent(slice(2), "fmt-sink", 2L).nonEmpty)
        sys.error("q_lake_stream_sink_fmt: replayed batch 2 re-committed")
      val ledger = silver.historyDF().orderBy("version")
        .select("txn_app", "txn_batch")
        .as[(String, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
        .collect().toSeq
      if (ledger != Seq(("fmt-sink", 0L), ("fmt-sink", 1L), ("fmt-sink", 2L)))
        sys.error(s"q_lake_stream_sink_fmt: sink ledger $ledger")
      silver.read()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("vsum"))
        .orderBy("event_type")
    },

    // Streaming AGGREGATIONS behind the format sink (round 16): no
    // foreachBatch anywhere — Complete mode routes each micro-batch
    // (the full result) to an idempotent OVERWRITE keyed by the
    // engine's batch id. Three Bronze commits drive three refreshes of
    // a live Gold aggregate; the ledger pins one overwrite per batch,
    // and the restart-shaped replay (same batchId through the same
    // primitive) must no-op. The oracle recomputes the aggregate from
    // raw events in one batch query — equality proves the streamed
    // maintenance converges.
    q("q_lake_stream_complete",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS vsum
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = graft.lake.Scratch.dir("graft-lake-cm")
      val bronzeDir = base + "/bronze"
      val goldDir = base + "/gold"
      val bronze = graft.lake.VersionedTable(s, bronzeDir)
      val gold = graft.lake.VersionedTable(s, goldDir)
      val ev = events(s, d).select("event_id", "event_type", "value")
      def slice(i: Int): DataFrame = ev.filter(pmod(col("event_id"), lit(3)) === i)
      // State partitions sized to the aggregate's observed key
      // cardinality (derived, r20 — no fixture literal): a stateful
      // micro-batch pays per-STATE-PARTITION fixed cost (store load +
      // delta write + fsync) every batch, so 32 near-empty stores were
      // pure overhead — at any cluster size, not just local (measured:
      // the state stage carried ~52 s of task time for 3 groups). The
      // cardinality is observed for FREE on the seed commit's own write
      // (Dataset.observe — a separate aggregate job cost ~0.2 s). The
      // conf is pinned into the checkpoint at first batch; restored for
      // everything after.
      val obs = org.apache.spark.sql.Observation()
      bronze.commitOverwrite(slice(0)
        .observe(obs, approx_count_distinct(col("event_type")).as("k"))) // v0
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        Tables.statePartitions(s,
          obs.get("k").asInstanceOf[Long]).toString)
      val query = s.readStream.format("graft-lake").load(bronzeDir)
        .filter(col("_change_type") === "insert")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("vsum"))
        .writeStream.format("graft-lake")
        .outputMode("complete")
        .option("appId", "cm-agg")
        .option("checkpointLocation", base + "/ckpt")
        .start(goldDir)
      try {
        // first batch pins the state-partition count into the
        // checkpoint; only then is the session value safe to restore
        // (the streaming thread reads it at first-batch planning)
        query.processAllAvailable()
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        bronze.commitAppend(slice(1))                                 // v1
        query.processAllAvailable()
        bronze.commitAppend(slice(2))                                 // v2
        query.processAllAvailable()
      } finally {
        query.stop()
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      if (gold.history().map(_._2) != Seq("overwrite", "overwrite", "overwrite"))
        sys.error(s"q_lake_stream_complete: Complete mode must land one " +
          s"overwrite per batch: ${gold.history().map(_._2)}")
      val ledger = gold.historyDF().orderBy("version")
        .select("txn_app", "txn_batch")
        .as[(String, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
        .collect().toSeq
      if (ledger != (0L to 2L).map(("cm-agg", _)))
        sys.error(s"q_lake_stream_complete: ledger $ledger")
      // restart-shaped replay of the last batch: must no-op
      if (gold.commitOverwriteIdempotent(gold.read(), "cm-agg", 2L).nonEmpty)
        sys.error("q_lake_stream_complete: replayed batch 2 re-committed")
      gold.read().orderBy("event_type")
    },

    // Update mode through the format sink (round 16): a keyed streaming
    // aggregation where each micro-batch carries only the CHANGED keys'
    // rows, landed as an idempotent FILE-scoped swap (r17: the hit
    // files come from a distributed key-vs-stats join, no key cap) — the
    // Medallion's bucket-refresh contract with zero user code. The
    // second batch touches only 'click' events, so the commit chain
    // shows a scoped rewrite, never a full overwrite; content equality
    // with the batch recompute proves convergence. At 100 TB Update
    // mode is the difference between rewriting a key's file and
    // rewriting the aggregate table per trigger.
    q("q_lake_stream_update",
      """WITH e AS (SELECT event_type, value FROM events
        |  WHERE event_id % 3 = 0
        |     OR (event_id % 3 = 1 AND event_type = 'click'))
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS vsum
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = graft.lake.Scratch.dir("graft-lake-up")
      val bronzeDir = base + "/bronze"
      val goldDir = base + "/gold"
      val bronze = graft.lake.VersionedTable(s, bronzeDir)
      val gold = graft.lake.VersionedTable(s, goldDir)
      val ev = events(s, d).select("event_id", "event_type", "value")
      // state partitions derived from key cardinality observed free on
      // the seed commit's write (see q_lake_stream_complete — measured
      // 1.4 s of per-batch fixed state-store cost on 32 near-empty
      // stores)
      val obs = org.apache.spark.sql.Observation()
      bronze.commitOverwrite(ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .observe(obs, approx_count_distinct(col("event_type")).as("k"))) // v0
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        Tables.statePartitions(s,
          obs.get("k").asInstanceOf[Long]).toString)
      val query = s.readStream.format("graft-lake").load(bronzeDir)
        .filter(col("_change_type") === "insert")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("vsum"))
        .writeStream.format("graft-lake")
        .outputMode("update")
        .option("updateKeys", "event_type")
        .option("appId", "up-agg")
        .option("checkpointLocation", base + "/ckpt")
        .start(goldDir)
      try {
        query.processAllAvailable()
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        // second batch touches ONLY one key
        bronze.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 1)
          .filter(col("event_type") === "click"))                     // v1
        query.processAllAvailable()
      } finally {
        query.stop()
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      if (gold.history().map(_._2) != Seq("overwrite", "replaceFiles"))
        sys.error(s"q_lake_stream_update: a one-key batch must land as a " +
          s"file-scoped swap: ${gold.history().map(_._2)}")
      gold.read().orderBy("event_type")
    },

    // The lake's SQL front door (round 16): batch reads AND writes
    // behind the format string, so a plain-SQL user can query a
    // versioned table without touching the Scala API. The write door
    // lands overwrite/append as versioned commits; the read door is a
    // V1 PrunedFilteredScan built on the lake's own reader, so a WHERE
    // clause typed into spark.sql flows: Catalyst filter → pushed
    // sources.Filter → readWhere's min/max file skipping → pruned scan
    // (asserted in-query: the scan opened exactly candidateFiles(pred),
    // strictly fewer than the table's files), with deletion vectors and
    // versionAsOf time travel applying behind the view. The oracle
    // recomputes from raw customer minus the MoR-deleted keys. At
    // 100 TB this is what turns an analyst's day-filter through a SQL
    // view into a few file reads instead of a table scan.
    q("q_lake_sql",
      """SELECT c_mktsegment AS segment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS bal
        |FROM customer
        |WHERE c_custkey <= (SELECT max(c_custkey) // 10 FROM customer)
        |  AND c_custkey % 10 <> 3
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-lake-sql") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      val cust = customer(s, d).select("c_custkey", "c_mktsegment", "c_acctbal")
      // batch WRITE door: two halves land as versioned commits (range-
      // partitioned so custkey stats are tight per file)
      cust.filter(col("c_custkey") % 2 === 0)
        .repartitionByRange(8, col("c_custkey"))
        .write.format("graft-lake").mode("overwrite").save(dir)       // v0
      cust.filter(col("c_custkey") % 2 === 1)
        .repartitionByRange(8, col("c_custkey"))
        .write.format("graft-lake").mode("append").save(dir)          // v1
      if (t.history().map(_._2) != Seq("overwrite", "append"))
        sys.error(s"q_lake_sql: format writes did not land as commits: " +
          s"${t.history().map(_._2)}")
      t.deleteMoR(col("c_custkey") % 10 === 3)                        // v2
      s.read.format("graft-lake").load(dir)
        .createOrReplaceTempView("lake_customer")
      // a selective predicate through PLAIN SQL must reach the lake's
      // skipping layer: the scan opens exactly the stats-surviving
      // files, strictly fewer than the table holds. The cutoff is
      // SCALE-RELATIVE (max key / 10) so the selectivity — and the
      // pruning this asserts — holds at every fixture size
      val cut = cust.agg(max("c_custkey")).head().getAs[Number](0).longValue / 10
      s.sql(s"SELECT count(*) AS n FROM lake_customer WHERE c_custkey <= $cut")
        .collect()
      val scanned = Option(org.apache.spark.sql.graft.GraftLakeRelation
        .lastScanFiles.get(dir)).map(_.toInt).getOrElse(-1)
      val expect = t.candidateFiles(col("c_custkey") <= cut).size
      val total = t.snapshotDataFiles().size
      if (scanned != expect || scanned >= total)
        sys.error(s"q_lake_sql: SQL predicate did not prune: scanned " +
          s"$scanned, stats say $expect, table holds $total files")
      // time travel door: the pre-delete version still shows every row
      val v1n = s.read.format("graft-lake").option("versionAsOf", 1)
        .load(dir).count()
      if (v1n != cust.count())
        sys.error(s"q_lake_sql: versionAsOf=1 shows $v1n rows, want " +
          s"${cust.count()}")
      s.sql(s"""SELECT c_mktsegment AS segment, count(*) AS n,
              |  round(sum(c_acctbal), 2) AS bal
              |FROM lake_customer WHERE c_custkey <= $cut
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // BOUNDED backlog consumption (round 16): a stream that was down
    // while six Bronze commits accumulated must NOT swallow the backlog
    // as one giant micro-batch — with maxCommitsPerTrigger=2 the
    // restart drains it as exactly three bounded batches (every batch
    // boundary a consistent table version), each landing through the
    // format sink's idempotent append. The sink's txn ledger is the
    // proof: batch ids 0 (the pre-outage snapshot) through 3, one
    // commit each — a single-batch drain would show id 1 only. At
    // 100 TB this is the difference between a post-outage restart
    // making checkpointed progress and one unbounded batch that redoes
    // everything on any mid-batch failure. The oracle recomputes the
    // streamed table from raw events.
    q("q_lake_stream_backlog",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS vsum
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = graft.lake.Scratch.dir("graft-lake-bkl")
      val bronzeDir = base + "/bronze"
      val silverDir = base + "/silver"
      val bronze = graft.lake.VersionedTable(s, bronzeDir)
      val silver = graft.lake.VersionedTable(s, silverDir)
      val ev = events(s, d).select("event_id", "event_type", "value")
      def slice(i: Int): DataFrame = ev.filter(pmod(col("event_id"), lit(7)) === i)
      def run() = s.readStream.format("graft-lake")
        .option("maxCommitsPerTrigger", 2)
        .load(bronzeDir)
        .filter(col("_change_type") === "insert")
        .drop("_commit_version", "_change_type")
        .writeStream.format("graft-lake")
        .option("appId", "backlog-sink")
        .option("checkpointLocation", base + "/ckpt")
        .start(silverDir)
      bronze.commitOverwrite(slice(0))                              // v0
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()                // batch 0
      // the outage: six commits land while the query is down
      (1 to 6).foreach(i => bronze.commitAppend(slice(i)))          // v1..v6
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()
      val ledger = silver.historyDF().orderBy("version")
        .select("txn_app", "txn_batch")
        .as[(String, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
        .collect().toSeq
      if (ledger != (0L to 3L).map(("backlog-sink", _)))
        sys.error(s"q_lake_stream_backlog: a 6-commit backlog at " +
          s"maxCommitsPerTrigger=2 must drain as batches 1..3 after the " +
          s"snapshot batch 0; ledger was $ledger")
      val (nS, nB) = (silver.read().count(), bronze.read().count())
      if (nS != nB)
        sys.error(s"q_lake_stream_backlog: streamed $nS rows, bronze has $nB")
      silver.read()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("vsum"))
        .orderBy("event_type")
    },

    // Partition-aligned operational surface over a hive-style layout
    // (the reference's partitioned Silver write, main.py:623, finally
    // exploited operationally): events land day-partitioned via
    // LayerWriter; then the three lifecycle idioms every partitioned
    // lake runs —
    //  1. IDEMPOTENT DAY RE-LOAD: the newest day re-lands (values
    //     doubled as the visible proof) through dynamic partition
    //     overwrite; the in-query assert pins at the FILE level that
    //     every other partition survived by identity;
    //  2. PARTITION-SCOPED RETENTION: the oldest day expires as an O(1)
    //     directory drop — no scan, no rewrite;
    //  3. PARTITION-PRUNED READ: a one-day filter reads ONLY that
    //     partition's files (asserted via inputFiles).
    // The oracle recomputes the surviving table from raw events. At
    // 100 TB these three idioms are the daily operating loop of a
    // partitioned lake; each costs O(one partition), never O(table).
    q("q_lake_partition_ops",
      """WITH e AS (SELECT strftime(date_trunc('day', ts::TIMESTAMP),
        |    '%Y-%m-%d') AS day, event_type, value FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e)
        |SELECT day, event_type, count(*) AS n,
        |  round(sum(CASE WHEN day = (SELECT hi FROM b) THEN value * 2
        |                 ELSE value END), 2) AS vsum
        |FROM e WHERE day > (SELECT lo FROM b)
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
      import graft.lake.{LayerPath, LayerWriter}
      val base = graft.lake.Scratch.dir("graft-part-ops")
      val target = LayerPath(base, "Silver", "events", "by_day")
      val ev = events(s, d).select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))
      LayerWriter.write(ev, target, partitionCol = Some("day"))
      val days = ev.select("day").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      if (days.size < 3)
        sys.error(s"q_lake_partition_ops: fixture has ${days.size} day(s); " +
          s"the re-load/retention/pruned-read trio needs 3 distinct days")
      val (lo, hi) = (days.head, days.last)
      def partFiles(): Map[String, Set[String]] = {
        val fs = new org.apache.hadoop.fs.Path(target.path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        days.flatMap { day =>
          val dir = new org.apache.hadoop.fs.Path(target.path, s"day=$day")
          if (!fs.exists(dir)) None
          else Some(day -> fs.listStatus(dir).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).toSet)
        }.toMap
      }
      val before = partFiles()
      // 1. idempotent re-load of the NEWEST day (doubled values)
      LayerWriter.replacePartitions(
        ev.filter(col("day") === hi)
          .withColumn("value", col("value") * 2), target, "day")
      val after = partFiles()
      days.filter(_ != hi).foreach { day =>
        if (after(day) != before(day))
          sys.error(s"q_lake_partition_ops: dynamic overwrite of day=$hi " +
            s"touched day=$day's files")
      }
      if (after(hi) == before(hi))
        sys.error("q_lake_partition_ops: the re-loaded day kept its old files")
      // 2. retention: expire the oldest day as a directory drop
      if (LayerWriter.dropPartitions(s, target, "day", Seq(lo)) != 1)
        sys.error(s"q_lake_partition_ops: retention drop of day=$lo failed")
      // 3. pruned read: a one-day filter must plan a PARTITION filter
      // and open only that directory's files (numFiles metric)
      val mid = days(days.size / 2)
      val prunedDf = LayerWriter.read(s, target).filter(col("day") === mid)
      prunedDf.collect()
      val scan = prunedDf.queryExecution.executedPlan
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .headOption.getOrElse(sys.error("q_lake_partition_ops: no file scan"))
      if (scan.partitionFilters.isEmpty)
        sys.error("q_lake_partition_ops: day filter did not become a " +
          "partition filter")
      val nOpened = scan.metrics("numFiles").value
      val nMid = after(mid).size
      if (nOpened != nMid)
        sys.error(s"q_lake_partition_ops: one-day read opened $nOpened " +
          s"files; partition day=$mid holds $nMid")
      LayerWriter.read(s, target)
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("vsum"))
        .orderBy("day", "event_type")
    }
  )
}
