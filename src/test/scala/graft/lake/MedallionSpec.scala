package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The incremental lake source ([[ChangeFeedReader]]) and the
  * incrementally-maintained medallion ([[Medallion]]): poll/advance
  * cursor semantics, DV-aware change delivery, and the replay
  * (re-delivered version range) interleavings the r13 verdict asked
  * for — a crash between apply and advance must never double-apply.
  */
class MedallionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scratch(prefix: String) =
    Files.createTempDirectory(prefix).toString

  // ---- ChangeFeedReader ------------------------------------------------

  test("poll returns exactly the new commits' rows; advance moves the cursor; caught-up = None") {
    val dir = scratch("graft-cfr")
    val t = VersionedTable(spark, s"$dir/t")
    val r = new ChangeFeedReader(t, s"$dir/cursor.json")
    assert(r.poll().isEmpty)          // no commits yet
    assert(r.lastProcessed() == -1)
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    val (c0, h0) = r.poll().get
    assert(h0 == 0)
    assert(c0.filter(col("_change_type") === "insert").count() == 2)
    // un-advanced cursor re-delivers the same range (at-least-once)
    assert(r.poll().get._1.count() == 2)
    r.advance(h0)
    assert(r.poll().isEmpty)          // caught up
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))               // v1
    t.commitAppend(Seq((4L, "d")).toDF("id", "v"))               // v2
    val (c1, h1) = r.poll().get
    assert(h1 == 2)
    // exactly the two appended rows — never a rescan of v0
    assert(c1.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    r.advance(h1)
    // a stale advance (replayed batch) never rewinds
    r.advance(h0)
    assert(r.lastProcessed() == 2)
  }

  test("change feed is DV-aware: a MoR delete polls as exactly its marked delete rows") {
    val dir = scratch("graft-cfr")
    val t = VersionedTable(spark, s"$dir/t")
    val r = new ChangeFeedReader(t, s"$dir/cursor.json")
    t.commitOverwrite((1L to 5L).map(i => (i, s"r$i")).toDF("id", "v"))
    r.process((_, _) => ())           // consume v0
    assert(t.deleteMoR(col("id") <= 2L).contains(1))
    val (c, h) = r.poll().get
    assert(h == 1)
    val rows = c.select("id", "_change_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows == Seq((1L, "delete"), (2L, "delete")))
  }

  test("a consumer below the vacuum horizon fails loudly instead of silently skipping changes") {
    val dir = scratch("graft-cfr")
    val t = VersionedTable(spark, s"$dir/t")
    val r = new ChangeFeedReader(t, s"$dir/cursor.json")
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitOverwrite(Seq((2L, "b")).toDF("id", "v"))
    t.commitOverwrite(Seq((3L, "c")).toDF("id", "v"))
    t.vacuum(retainVersions = 2, minAgeMs = 0L)      // horizon = v1
    val e = intercept[RuntimeException](r.poll())
    assert(e.getMessage.contains("vacuum horizon"), e.getMessage)
  }

  // ---- Medallion -------------------------------------------------------

  private def raw(rows: (Long, String, Double)*): DataFrame =
    rows.toDF("event_id", "etype", "value")

  private def clean(df: DataFrame): DataFrame =
    df.filter(col("value").isNotNull)
      .select(col("event_id"), col("etype"), col("value"))

  private def refreshAll(m: Medallion): Unit = {
    m.refreshSilver(clean, Seq("event_id"))
    m.refreshGold(col("etype"), lit("all"), col("value"))
  }

  private def goldMap(m: Medallion): Map[String, (Long, Double)] =
    m.goldView().select("bucket", "n", "vsum")
      .as[(String, Long, Double)].collect()
      .map { case (b, n, s) => b -> ((n, math.round(s * 100).toDouble / 100)) }
      .toMap

  test("three append rounds maintain Gold incrementally; equals batch recompute") {
    // crossover pinned past 1.0: tiny 3-bucket states hash into so few
    // files that the default hit-fraction rule may legitimately choose
    // a full overwrite — this test pins the SCOPED path's semantics
    val m = new Medallion(spark, scratch("graft-med"),
      goldStateFiles = 32, goldRefreshCrossover = 1.1)
    val batches = Seq(
      raw((1L, "a", 1.5), (2L, "b", 2.0)),
      raw((3L, "a", 3.0), (4L, "c", 4.5)),
      raw((5L, "b", 0.5), (6L, "a", 6.0)))
    batches.foreach { b => m.ingest(b); refreshAll(m) }
    assert(goldMap(m) == Map(
      "a" -> ((3L, 10.5)), "b" -> ((2L, 2.5)), "c" -> ((1L, 4.5))))
    // ledgers prove INCREMENTAL maintenance: silver got one append per
    // batch (never a recompute), gold one refresh per batch, and the
    // txn ledger records which upstream version each commit consumed
    assert(m.silver.history().map(_._2) ==
      Seq("append", "append", "append"))
    // bucket-partitioned state: the first refresh seeds (overwrite),
    // every later one swaps only the hit FILES — never O(state)
    assert(m.gold.history().map(_._2) ==
      Seq("overwrite", "replaceFiles", "replaceFiles"))
    assert(m.silverCursor.lastProcessed() == 2) // bronze head
    assert(m.goldCursor.lastProcessed() == 2)   // silver head
    val goldTxns = m.gold.historyDF().select("txn_app", "txn_batch")
      .as[(String, Long)].collect().toSeq
    assert(goldTxns == Seq(("gold", 0L), ("gold", 1L), ("gold", 2L)))
  }

  test("replay safety: a re-delivered version range (crash between apply and advance) is a no-op") {
    val root = scratch("graft-med")
    val m = new Medallion(spark, root)
    m.ingest(raw((1L, "a", 1.0), (2L, "b", 2.0))); refreshAll(m)
    m.ingest(raw((3L, "a", 3.0))); refreshAll(m)
    val silverVersions = m.silver.versions()
    val goldBefore = goldMap(m)
    // simulate the crash: the SILVER cursor is rolled back to before
    // the last batch (apply landed, advance didn't) — the ledger is
    // ahead of the cursor, so the next refresh FAST-FORWARDS the cursor
    // to the ledger and reports already-caught-up instead of re-polling
    // an already-committed range
    Files.write(Paths.get(s"$root/_silver_cursor.json"),
      """{"version":0}""".getBytes("UTF-8"))
    val replayed = m.refreshSilver(clean, Seq("event_id"))
    assert(replayed.isEmpty)                        // ledger > cursor = caught up
    assert(m.silverCursor.lastProcessed() == 1)     // cursor fast-forwarded
    assert(m.silver.versions() == silverVersions)   // nothing committed
    assert(m.silver.read().count() == 3)            // no duplicate rows
    // same for GOLD: roll its cursor back and refresh — the ledger
    // fast-forward makes the replay a caught-up no-op, state unchanged
    Files.write(Paths.get(s"$root/_gold_cursor.json"),
      """{"version":0}""".getBytes("UTF-8"))
    val gReplayed = m.refreshGold(col("etype"), lit("all"), col("value"))
    assert(gReplayed.isEmpty)
    assert(m.goldCursor.lastProcessed() == 1)
    assert(goldMap(m) == goldBefore)
    assert(m.gold.history().size == 2)              // still two refreshes
  }

  test("the file-granular crossover: an every-file batch lands as a plain overwrite, and the knob disables the fallback") {
    // ONE bucket in the whole state = deterministically one hit file of
    // one — fraction 1.0 ≥ the default 0.9, so the refresh must take
    // the plain idempotent overwrite (scoped machinery is pure overhead
    // when every file is rewritten anyway)
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0), (2L, "a", 2.0))); refreshAll(m)
    m.ingest(raw((3L, "a", 3.0))); refreshAll(m)
    assert(m.gold.history().map(_._2) == Seq("overwrite", "overwrite"))
    assert(goldMap(m) == Map("a" -> ((3L, 6.0))))
    // same shape with the fallback disabled: the scoped path runs even
    // at fraction 1.0 and converges to the same state
    val m2 = new Medallion(spark, scratch("graft-med"),
      goldStateFiles = 32, goldRefreshCrossover = 1.1)
    m2.ingest(raw((1L, "a", 1.0), (2L, "a", 2.0))); refreshAll(m2)
    m2.ingest(raw((3L, "a", 3.0))); refreshAll(m2)
    assert(m2.gold.history().map(_._2) == Seq("overwrite", "replaceFiles"))
    assert(goldMap(m2) == Map("a" -> ((3L, 6.0))))
  }

  test("crash between apply and advance with NEW upstream commits before the retry: no double-apply (ADVICE r15 medium)") {
    val root = scratch("graft-med")
    val m = new Medallion(spark, root)
    m.ingest(raw((1L, "a", 1.0), (2L, "b", 2.0))); refreshAll(m)
    m.ingest(raw((3L, "a", 3.0))); refreshAll(m)
    // the hazardous interleaving: both applies LANDED (ledgers at their
    // upstream heads = 1) but neither cursor advanced — and new Bronze
    // data arrives before the retry. Without the ledger fast-forward
    // the next poll spans (0, 2]: batchId = 2 passes the `>= head`
    // ledger check and the already-applied v1 prefix double-counts
    // (duplicate Silver rows, doubled Gold n/vsum).
    Files.write(Paths.get(s"$root/_silver_cursor.json"),
      """{"version":0}""".getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/_gold_cursor.json"),
      """{"version":0}""".getBytes("UTF-8"))
    m.ingest(raw((4L, "b", 4.0)))
    refreshAll(m)
    // equality with the batch recompute proves no double-apply
    assert(m.silver.read().select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    assert(goldMap(m) == Map("a" -> ((2L, 4.0)), "b" -> ((2L, 6.0))))
  }

  test("a Bronze MoR delete flows through: Silver drops the rows, Gold subtracts the partials") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)))
    refreshAll(m)
    assert(m.bronze.deleteMoR(col("event_id") === 2L).contains(1))
    refreshAll(m)
    assert(m.silver.read().select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // gold: 'a' net = 1 row / 1.0; 'b' untouched
    assert(goldMap(m) == Map("a" -> ((1L, 1.0)), "b" -> ((1L, 3.0))))
    // a group deleted to zero drops out entirely
    assert(m.bronze.deleteMoR(col("event_id") === 3L).contains(2))
    refreshAll(m)
    assert(goldMap(m) == Map("a" -> ((1L, 1.0))))
  }

  test("an update-shaped Bronze change (delete+insert of one key) nets to ONE Silver row") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0), (2L, "b", 2.0))); refreshAll(m)
    // bronze CoW update surfaces as a delete+insert pair in the feed —
    // without per-key netting the old image's delete no-ops (applied
    // first) and BOTH images append → duplicate key rows
    m.bronze.update(col("event_id") === 1L, Map("value" -> lit(5.0)))
    refreshAll(m)
    val row1 = m.silver.read().filter(col("event_id") === 1L)
      .select("value").as[Double].collect().toSeq
    assert(row1 == Seq(5.0), s"expected one netted image, got $row1")
    assert(goldMap(m) == Map("a" -> ((1L, 5.0)), "b" -> ((1L, 2.0))))
  }

  test("insert-then-delete of a key within ONE polled range nets to nothing") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0))); refreshAll(m)
    // two bronze commits land before the next refresh: key 2 appears
    // and dies inside the same polled range — it must never reach
    // Silver (the un-netted order applied deletes first, then
    // resurrected the key from the earlier insert)
    m.ingest(raw((2L, "b", 2.0)))
    m.bronze.deleteMoR(col("event_id") === 2L)
    refreshAll(m)
    assert(m.silver.read().select("event_id").as[Long].collect().toSeq ==
      Seq(1L))
    assert(goldMap(m) == Map("a" -> ((1L, 1.0))))
  }

  test("replay of a fully-landed update batch touches nothing (ledger fast path)") {
    val root = scratch("graft-med")
    val m = new Medallion(spark, root)
    m.ingest(raw((1L, "a", 1.0))); refreshAll(m)
    m.bronze.update(col("event_id") === 1L, Map("value" -> lit(9.0)))
    m.refreshSilver(clean, Seq("event_id")) // delete leg + insert leg both land
    val versions = m.silver.versions()
    // crash before advance: the replayed DELETE leg must not remove the
    // row the batch's own insert leg added — the txn ledger says the
    // whole batch landed, so the refresh fast-forwards the cursor and
    // reports caught-up without re-polling at all
    Files.write(Paths.get(s"$root/_silver_cursor.json"),
      """{"version":0}""".getBytes("UTF-8"))
    assert(m.refreshSilver(clean, Seq("event_id")).isEmpty)
    assert(m.silverCursor.lastProcessed() == 1)
    assert(m.silver.versions() == versions)
    assert(m.silver.read().select("value").as[Double].head() == 9.0)
  }

  test("Bronze deletes land on Silver as one deletion vector; Silver's data files stay") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))); refreshAll(m)
    val silverFiles = m.silver.snapshotDataFiles()
    assert(m.bronze.deleteMoR(col("event_id") === 2L).nonEmpty)
    m.ingest(raw((4L, "b", 4.0)))
    refreshAll(m)
    assert(m.silver.history().map(_._2) == Seq("append", "delete-dv", "append"))
    assert(silverFiles.toSet.subsetOf(m.silver.snapshotDataFiles().toSet))
    assert(m.silver.read().select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // Gold folds the vector-marked Silver rows as deletes
    assert(goldMap(m) == Map("a" -> ((1L, 1.0)), "b" -> ((2L, 7.0))))
  }

  test("a crash between the delete leg and the insert leg: the replay's delete leg commits nothing, the insert leg lands once") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0), (2L, "b", 2.0))); refreshAll(m)
    m.bronze.update(col("event_id") === 1L, Map("value" -> lit(5.0)))
    // `clean` runs once per leg, delete leg first: failing its second
    // call crashes the refresh after the delete leg has committed
    var calls = 0
    val crashing: DataFrame => DataFrame = { df =>
      calls += 1
      if (calls == 2) throw new IllegalStateException("crash before the insert leg")
      clean(df)
    }
    intercept[IllegalStateException](m.refreshSilver(crashing, Seq("event_id")))
    assert(m.silver.history().map(_._2) == Seq("append", "delete-dv"))
    assert(m.silverCursor.lastProcessed() == 0)
    assert(m.silver.read().select("event_id").as[Long].collect().toSeq == Seq(2L))
    // the replay re-polls the same range: key 1 is already hidden
    assert(m.refreshSilver(clean, Seq("event_id")).contains(1))
    assert(m.silver.history().map(_._2) == Seq("append", "delete-dv", "append"))
    assert(m.silver.historyDF().filter(col("txn_app") === "silver")
      .select("txn_batch").as[Long].collect().toSeq == Seq(0L, 1L))
    assert(m.silver.read().select("event_id", "value").as[(Long, Double)]
      .collect().sorted.toSeq == Seq((1L, 5.0), (2L, 2.0)))
    assert(m.refreshSilver(clean, Seq("event_id")).isEmpty)
    m.refreshGold(col("etype"), lit("all"), col("value"))
    assert(goldMap(m) == Map("a" -> ((1L, 5.0)), "b" -> ((1L, 2.0))))
  }

  test("a malformed cursor file fails loudly instead of silently replaying the whole feed") {
    val dir = scratch("graft-cfr")
    val t = VersionedTable(spark, s"$dir/t")
    val r = new ChangeFeedReader(t, s"$dir/cursor.json")
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    r.process((_, _) => ())
    assert(r.lastProcessed() == 0)
    Files.write(Paths.get(s"$dir/cursor.json"),
      """{"vursion":banana}""".getBytes("UTF-8"))
    val e = intercept[RuntimeException](r.lastProcessed())
    assert(e.getMessage.contains("refusing to silently replay"), e.getMessage)
  }

  // ---- bucket-partitioned Gold (round 15) -------------------------------

  private def goldFull(m: Medallion): Map[(String, String), (Long, Double, Double, Double)] =
    m.goldView().select("bucket", "key", "n", "vsum", "vmin", "vmax")
      .as[(String, String, Long, Double, Double, Double)].collect()
      .map { case (b, k, n, s, mn, mx) =>
        (b, k) -> ((n, math.round(s * 100).toDouble / 100, mn, mx)) }
      .toMap

  test("gold min/max maintain through inserts for free; a delete of a group's extremum rescans ONLY that group") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 5.0), (2L, "a", 1.0), (3L, "b", 7.0)))
    m.refreshSilver(clean, Seq("event_id"))
    val r1 = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r1.rescannedGroups == 0)        // insert-only: algebra suffices
    assert(goldFull(m) == Map(
      ("a", "all") -> ((2L, 6.0, 1.0, 5.0)),
      ("b", "all") -> ((1L, 7.0, 7.0, 7.0))))
    // insert a tighter max into 'a': still no rescan (inserts are free)
    m.ingest(raw((4L, "a", 9.0)))
    m.refreshSilver(clean, Seq("event_id"))
    val r2 = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r2.rescannedGroups == 0 && r2.touchedBuckets == Seq("a"))
    assert(goldFull(m)(("a", "all")) == ((3L, 15.0, 1.0, 9.0)))
    // delete the stored max of 'a' (9.0): the new extremum is only
    // findable by rescanning the group — and ONLY 'a' rescans ('b' is
    // untouched, and its bucket's files are not even read)
    assert(m.bronze.deleteMoR(col("event_id") === 4L).nonEmpty)
    m.refreshSilver(clean, Seq("event_id"))
    val r3 = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r3.rescannedGroups == 1 && r3.touchedBuckets == Seq("a"))
    assert(goldFull(m) == Map(
      ("a", "all") -> ((2L, 6.0, 1.0, 5.0)),
      ("b", "all") -> ((1L, 7.0, 7.0, 7.0))))
  }

  test("a delete strictly between a group's min and max needs no rescan") {
    val m = new Medallion(spark, scratch("graft-med"))
    m.ingest(raw((1L, "a", 1.0), (2L, "a", 3.0), (3L, "a", 9.0)))
    m.refreshSilver(clean, Seq("event_id"))
    m.refreshGold(col("etype"), lit("all"), col("value"))
    assert(m.bronze.deleteMoR(col("event_id") === 2L).nonEmpty) // 3.0: interior
    m.refreshSilver(clean, Seq("event_id"))
    val r = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r.rescannedGroups == 0)
    assert(goldFull(m)(("a", "all")) == ((2L, 10.0, 1.0, 9.0)))
  }

  test("an extremum inserted and deleted within ONE polled range resolves by rescan (first batch included)") {
    val m = new Medallion(spark, scratch("graft-med"))
    // both commits land before the FIRST gold refresh: the range's
    // insert-side min (0.5) is already dead — naive ins_min would be
    // wrong; the rescan path recomputes from Silver AS OF the head
    m.ingest(raw((1L, "a", 0.5), (2L, "a", 4.0)))
    m.refreshSilver(clean, Seq("event_id"))
    m.bronze.deleteMoR(col("event_id") === 1L)
    m.refreshSilver(clean, Seq("event_id"))
    val r = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r.rescannedGroups == 1)
    assert(goldFull(m)(("a", "all")) == ((1L, 4.0, 4.0, 4.0)))
  }

  test("a refresh touching one bucket rewrites ONLY that bucket's files; others survive by identity") {
    // crossover pinned past 1.0 (see above): this pins the scoped
    // path's file-identity contract, not the fallback policy
    val m = new Medallion(spark, scratch("graft-med"),
      goldStateFiles = 32, goldRefreshCrossover = 1.1)
    // EIGHT buckets so the hash layout spreads them over several files
    // (a 3-bucket state can legitimately collide into one file, where
    // nothing could survive any refresh); touching 'a' — the MINIMUM
    // bucket value — makes the hit set deterministic: a file's
    // [min,max] range covers 'a' only if the file actually holds it
    m.ingest(raw((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0),
      (7L, "g", 7.0), (8L, "h", 8.0)))
    refreshAll(m)
    val v0 = m.gold.latestVersion().get
    val before = m.gold.commitFiles(v0)
    assert(before.size >= 2, s"fixture must spread over files: $before")
    // second batch touches ONLY bucket 'a'
    m.ingest(raw((9L, "a", 4.0)))
    m.refreshSilver(clean, Seq("event_id"))
    val r = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r.touchedBuckets == Seq("a"))
    val after = m.gold.commitFiles(m.gold.latestVersion().get)
    val rewritten = before.filterNot(after.toSet)
    val survived = before.filter(after.toSet)
    assert(survived.nonEmpty, "untouched buckets' files must survive by identity")
    // every rewritten file's bucket RANGE overlapped the touched bucket
    // (stats pruning is min/max-range-based: a straddling file is
    // conservatively selected without containing the bucket, so
    // containment would be a fixture-fragile over-assert)
    rewritten.foreach { f =>
      val mm = spark.read.parquet(s"${m.gold.tablePath}/$f")
        .agg(min("bucket"), max("bucket")).as[(String, String)].head()
      assert(mm._1 != null && mm._1 <= "a" && "a" <= mm._2,
        s"file $f rewritten without stats overlap with the touched bucket " +
          s"(range $mm)")
    }
    // and no survivor holds bucket 'a' (they'd hold stale state)
    survived.foreach { f =>
      val buckets = spark.read.parquet(s"${m.gold.tablePath}/$f")
        .select("bucket").distinct().as[String].collect().toSet
      assert(!buckets.contains("a"), s"stale 'a' state survived in $f")
    }
    assert(goldFull(m)(("a", "all")) == ((2L, 5.0, 1.0, 4.0)))
    assert(goldFull(m)(("b", "all")) == ((1L, 2.0, 2.0, 2.0)))
  }

  test("NULL bucket values refresh like any other bucket (isin is null-blind; the scope must not be)") {
    val m = new Medallion(spark, scratch("graft-med"))
    val withNull: (Long, Option[String], Double) => DataFrame =
      (id, et, v) => Seq((id, et, v)).toDF("event_id", "etype", "value")
    // batch 1 seeds a null-bucket group and a normal one
    m.ingest(withNull(1L, None, 1.0).unionByName(withNull(2L, Some("b"), 2.0)))
    m.refreshSilver(clean, Seq("event_id"))
    m.refreshGold(col("etype"), lit("all"), col("value"))
    // batch 2 touches ONLY the null bucket: the refresh must read the
    // prior null-bucket state (fold to n=2) and pass the replaceWhere
    // scope check for its own rows
    m.ingest(withNull(3L, None, 3.0))
    m.refreshSilver(clean, Seq("event_id"))
    val r = m.refreshGoldStats(col("etype"), lit("all"), col("value")).get
    assert(r.touchedBuckets == Seq(null))
    val state = m.goldView().select("bucket", "n", "vsum")
      .as[(Option[String], Long, Double)].collect()
      .map { case (b, n, v) => b -> ((n, v)) }.toMap
    assert(state(None) == ((2L, 4.0)))
    assert(state(Some("b")) == ((1L, 2.0)))
  }

  test("replay safety through replaceFiles: a re-delivered file-scoped refresh commits nothing") {
    val root = scratch("graft-med")
    val m = new Medallion(spark, root,
      goldStateFiles = 32, goldRefreshCrossover = 1.1)
    m.ingest(raw((1L, "a", 1.0), (2L, "b", 2.0))); refreshAll(m)
    m.ingest(raw((3L, "a", 3.0))); refreshAll(m)   // file-scoped refresh
    assert(m.gold.history().map(_._2) == Seq("overwrite", "replaceFiles"))
    val stateBefore = goldFull(m)
    // crash between the replaceFiles and the cursor advance: the ledger
    // is ahead of the cursor, so the refresh fast-forwards and reports
    // caught-up — nothing is re-polled, nothing committed
    Files.write(Paths.get(s"$root/_gold_cursor.json"),
      """{"version":0}""".getBytes("UTF-8"))
    assert(m.refreshGoldStats(col("etype"), lit("all"), col("value")).isEmpty)
    assert(m.gold.history().size == 2)             // nothing committed
    assert(goldFull(m) == stateBefore)
    assert(m.goldCursor.lastProcessed() == 1)      // cursor re-advanced
  }

  test("clean()'s filter composes with deletes: rows Silver never admitted don't produce tombstones") {
    val m = new Medallion(spark, scratch("graft-med"))
    val withNull: DataFrame = Seq(
      (1L, "a", Some(1.0)), (2L, "b", None: Option[Double])
    ).toDF("event_id", "etype", "value")
    m.ingest(withNull); refreshAll(m)
    assert(m.silver.read().count() == 1) // the null row was cleaned away
    // deleting the never-admitted bronze row must not touch silver
    assert(m.bronze.deleteMoR(col("event_id") === 2L).contains(1))
    val sv = m.silver.versions().size
    refreshAll(m)
    assert(m.silver.read().count() == 1)
    assert(m.silver.versions().size == sv) // delete leg committed nothing
  }
}
