package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Twentieth core tranche (round 14): the medallion pipeline run
  * INCREMENTALLY — the reference's Bronze→Silver→Gold architecture
  * (`/root/reference/main.py:599→622→635`) where each downstream layer
  * consumes its upstream's CHANGE FEED instead of re-scanning it
  * ([[graft.lake.ChangeFeedReader]] / [[graft.lake.Medallion]]). At
  * 100 TB this is the difference between a daily Gold refresh reading
  * the day's commits (megabytes) and re-aggregating the table; the
  * oracle is the full batch recompute, so equality PROVES the
  * incremental maintenance converges to the same result.
  */
object CoreQueries20 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  val all: Seq[QueryDef] = Seq(

    // Incremental medallion through the CORRECTNESS board: events land
    // in Bronze over three append rounds; after each, Silver refreshes
    // by consuming Bronze's change feed (clean + exactly-once append
    // keyed by the consumed version) and Gold folds Silver's changes
    // into algebraic (n, vsum) partials via an idempotent overwrite.
    // The ledger asserts pin the shape: Silver commits exactly one
    // append per batch (never a recompute), Gold one refresh per
    // batch, and both cursors end at their upstream heads. The oracle
    // recomputes Gold from the raw events in one batch aggregation —
    // equality proves incremental == batch after all three rounds.
    q("q_medallion_incremental",
      """WITH e AS (SELECT strftime(date_trunc('day', ts::TIMESTAMP),
        |    '%Y-%m-%d') AS day, event_type, value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT day, event_type, count(*) AS n,
        |  round(sum(value), 2) AS vsum,
        |  round(sum(value) / count(*), 6) AS vavg,
        |  round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
        |FROM e GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
      val root = graft.lake.Scratch.dir("graft-med")
      val m = new graft.lake.Medallion(s, root)
      val ev = events(s, d)
      val clean: DataFrame => DataFrame = df =>
        df.filter(col("value").isNotNull)
          .select(col("event_id"),
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"), col("value"))
      (0 until 3).foreach { i =>
        m.ingest(ev.filter(pmod(col("event_id"), lit(3)) === i))
        m.refreshSilver(clean, Seq("event_id"))
        val r = m.refreshGoldStats(col("day"), col("event_type"), col("value"))
          .getOrElse(sys.error("q_medallion_incremental: gold refresh no-oped"))
        // insert-only batches never pay the min/max rescan
        if (r.rescannedGroups != 0)
          sys.error(s"q_medallion_incremental: insert-only batch rescanned " +
            s"${r.rescannedGroups} groups")
      }
      if (m.silver.history().map(_._2) != Seq("append", "append", "append"))
        sys.error(s"q_medallion_incremental: Silver was not maintained " +
          s"incrementally: ${m.silver.history().map(_._2)}")
      if (m.gold.history().size != 3)
        sys.error(s"q_medallion_incremental: expected 3 Gold refreshes, " +
          s"got ${m.gold.history().size}")
      if (m.silverCursor.lastProcessed() != 2 || m.goldCursor.lastProcessed() != 2)
        sys.error(s"q_medallion_incremental: cursors not at heads: " +
          s"silver=${m.silverCursor.lastProcessed()} gold=${m.goldCursor.lastProcessed()}")
      m.goldView()
        .select(col("bucket").as("day"), col("key").as("event_type"),
          col("n"), round(col("vsum"), 2).as("vsum"),
          round(col("vavg"), 6).as("vavg"),
          round(col("vmin"), 6).as("vmin"), round(col("vmax"), 6).as("vmax"))
        .orderBy("day", "event_type")
    },

    // Bucket-partitioned Gold state (round 15): the refresh cost is
    // bounded by the TOUCHED buckets, never the state — the state table
    // is written bucket-aligned, the second batch touches ONE bucket
    // ('click'), and the in-query asserts pin at the FILE level that
    // (a) untouched buckets' files survived by identity and (b) every
    // rewritten file actually held the touched bucket. The third round
    // MoR-deletes the touched bucket's stored maximum in Bronze; the
    // change flows Bronze→Silver→Gold and the min/max delete-rescan
    // recomputes exactly the affected groups (ledger-asserted count)
    // from the Silver snapshot at the consumed version. The oracle
    // recomputes everything from the raw events minus the deleted row.
    q("q_medallion_bucketed",
      """WITH victim AS (
        |  SELECT event_id FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |    AND event_id % 3 < 2
        |  ORDER BY value DESC, event_id DESC LIMIT 1),
        |e AS (
        |  SELECT event_type, strftime(date_trunc('day', ts::TIMESTAMP),
        |    '%Y-%m-%d') AS day, value
        |  FROM events WHERE value IS NOT NULL
        |    AND (event_id % 3 = 0
        |         OR (event_id % 3 = 1 AND event_type = 'click'))
        |    AND event_id <> (SELECT event_id FROM victim))
        |SELECT event_type, day, count(*) AS n, round(sum(value), 2) AS vsum,
        |  round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
        |FROM e GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val root = graft.lake.Scratch.dir("graft-medb")
      // crossover pinned past 1.0: this query PROVES the scoped path's
      // file-identity contract, which the default hit-fraction policy
      // may legitimately skip on a state this small (a handful of
      // hash-collided files). The policy itself is pinned
      // deterministically in MedallionSpec and measured in SCALE.md
      // ("Gold refresh goes FILE-granular", r16).
      val m = new graft.lake.Medallion(s, root,
        goldStateFiles = 32, goldRefreshCrossover = 1.1)
      val ev = events(s, d)
      val clean: DataFrame => DataFrame = df =>
        df.filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("value"))
      def refreshGold() =
        m.refreshGoldStats(col("event_type"), col("day"), col("value"))
          .getOrElse(sys.error("q_medallion_bucketed: refresh no-oped"))
      // round 1: every bucket seeds
      m.ingest(ev.filter(pmod(col("event_id"), lit(3)) === 0))
      m.refreshSilver(clean, Seq("event_id"))
      refreshGold()
      val before = m.gold.commitFiles(m.gold.latestVersion().get)
      // round 2: only the 'click' bucket changes
      m.ingest(ev.filter(pmod(col("event_id"), lit(3)) === 1)
        .filter(col("event_type") === "click"))
      m.refreshSilver(clean, Seq("event_id"))
      val r2 = refreshGold()
      if (r2.touchedBuckets != Seq("click"))
        sys.error(s"q_medallion_bucketed: expected touched=[click], got " +
          s"${r2.touchedBuckets}")
      val after = m.gold.commitFiles(m.gold.latestVersion().get)
      val survived = before.filter(after.toSet)
      val rewritten = before.filterNot(after.toSet)
      if (survived.isEmpty)
        sys.error("q_medallion_bucketed: a one-bucket refresh rewrote the " +
          "whole state — untouched buckets' files must survive by identity")
      // stats-OVERLAP, not containment: replaceWhere's pruning is
      // min/max-range-based, so a file whose bucket range merely
      // straddles 'click' is conservatively (and correctly) selected
      // without containing it — asserting containment would be fragile
      // against fixture/hashing changes
      // one grouped pass over the rewritten files (r19) — the former
      // per-file agg loop was a driver-sequential job per file for the
      // same evidence
      if (rewritten.nonEmpty)
        s.read.parquet(rewritten.map(f => s"${m.gold.tablePath}/$f"): _*)
          .select(substring_index(col("_metadata.file_path"), "/", -1).as("f"),
            col("bucket"))
          .groupBy("f").agg(min("bucket").as("lo"), max("bucket").as("hi"))
          .collect().foreach { r =>
            val (f, bLo, bHi) = (r.getString(0), r.getString(1), r.getString(2))
            if (bLo == null || bLo > "click" || bHi < "click")
              sys.error(s"q_medallion_bucketed: file $f rewritten without " +
                s"stats overlap with the touched bucket (range [$bLo,$bHi])")
          }
      // round 3: MoR-delete the touched bucket's stored MAX in Bronze —
      // only findable by the per-group rescan
      val victim = m.silver.read()
        .filter(col("event_type") === "click")
        .orderBy(desc("value"), desc("event_id"))
        .select("event_id").limit(1).collect()(0).getLong(0)
      m.bronze.deleteMoR(col("event_id") === victim)
      m.refreshSilver(clean, Seq("event_id"))
      val r3 = refreshGold()
      if (r3.touchedBuckets != Seq("click") || r3.rescannedGroups != 1)
        sys.error(s"q_medallion_bucketed: delete of one group's max must " +
          s"rescan exactly that group: touched=${r3.touchedBuckets} " +
          s"rescanned=${r3.rescannedGroups}")
      m.goldView()
        .select(col("bucket").as("event_type"), col("key").as("day"),
          col("n"), round(col("vsum"), 2).as("vsum"),
          round(col("vmin"), 6).as("vmin"), round(col("vmax"), 6).as("vmax"))
        .orderBy("event_type", "day")
    },

    // Column mapping through the CORRECTNESS board (round 14): rename
    // and drop are METADATA-ONLY commits — the in-query asserts pin
    // that NEITHER touched a single data file — and the drop's
    // physical name is tombstoned so a later evolution re-adding the
    // same logical name binds fresh storage (the dropped values must
    // NOT resurface: the oracle's NULLs for pre-drop rows are the
    // proof). Appends and reads before/after each DDL resolve through
    // the logical→physical overlay. At 100 TB the alternative to this
    // is rewriting the table to rename a column.
    q("q_lake_rename",
      """WITH orig AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |    CAST(NULL AS VARCHAR) AS cname, c_acctbal FROM customer),
        |b2 AS (
        |  SELECT c_custkey + 1000000, c_mktsegment,
        |    CAST(NULL AS VARCHAR), c_acctbal
        |  FROM customer WHERE c_custkey % 100 = 1),
        |b4 AS (
        |  SELECT c_custkey + 2000000, c_mktsegment, 'REBORN', c_acctbal
        |  FROM customer WHERE c_custkey % 100 = 2)
        |SELECT c_custkey, segment, coalesce(cname, '-') AS cname,
        |  round(c_acctbal, 2) AS acctbal
        |FROM (SELECT * FROM orig UNION ALL SELECT * FROM b2
        |      UNION ALL SELECT * FROM b4)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val dir = graft.lake.Scratch.dir("graft-vt-rename") + "/t"
      val t = graft.lake.VersionedTable(s, dir)
      val cust = customer(s, d)
      t.commitOverwrite(cust.repartition(4))                          // v0
      // file IDENTITY, not count — a 1:1 rewrite must fail this proof
      val files0 = t.commitFiles(0)
      t.renameColumn("c_mktsegment", "segment")                       // v1
      if (t.commitFiles(1) != files0)
        sys.error("q_lake_rename: rename touched data files")
      // append under the NEW logical name (stages under the stable
      // physical one)
      t.commitAppend(cust.filter(col("c_custkey") % 100 === 1)
        .withColumn("c_custkey", col("c_custkey") + 1000000)
        .withColumnRenamed("c_mktsegment", "segment"))                // v2
      val files2 = t.commitFiles(2)
      t.dropColumn("c_name")                                          // v3
      if (t.commitFiles(3) != files2)
        sys.error("q_lake_rename: drop touched data files")
      // evolution re-adds the dropped logical name — fresh physical id,
      // old values must stay buried
      t.commitAppend(cust.filter(col("c_custkey") % 100 === 2)
        .withColumn("c_custkey", col("c_custkey") + 2000000)
        .withColumnRenamed("c_mktsegment", "segment")
        .withColumn("c_name", lit("REBORN")),
        allowNewColumns = true)                                       // v4
      val actions = t.history().map(_._2)
      if (actions != Seq("overwrite", "rename-column", "append",
          "drop-column", "append"))
        sys.error(s"q_lake_rename: unexpected chain $actions")
      t.read()
        .select(col("c_custkey"), col("segment"),
          coalesce(col("c_name"), lit("-")).as("cname"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_custkey")
    }
  )
}
