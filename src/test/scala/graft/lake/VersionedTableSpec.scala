package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable() = VersionedTable(spark,
    Files.createTempDirectory("graft-vt").toString + "/t")

  test("overwrite + append produce versions; time travel reads old snapshots") {
    val t = freshTable()
    val v0 = t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = t.commitAppend(Seq((3L, "c")).toDF("id", "v"))
    assert((v0, v1) == (0, 1))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(t.read(Some(0)).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(t.history().map(h => (h._1, h._2, h._3)) ==
      Seq((0, "overwrite", 2L), (1, "append", 3L)))
    // the log is SQL-queryable
    assert(t.historyDF().select("version", "action").as[(Int, String)]
      .collect().toSeq == Seq((0, "overwrite"), (1, "append")))
  }

  test("change data feed returns only rows added per version, cost proportional to the change") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))           // v0
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))                         // v1
    t.insertOnlyMerge(Seq((3L, "dup"), (4L, "d")).toDF("id", "v"), Seq("id")) // v2: only id=4
    val cdf = t.changesBetween(0, 2)
      .select(col("id"), col("_commit_version")).as[(Long, Int)]
      .collect().sorted.toSeq
    assert(cdf == Seq((3L, 1), (4L, 2)))
    // empty range → empty frame with the CDF column, schema intact
    assert(t.changesBetween(2, 2).count() == 0)
    assert(t.changesBetween(2, 2).columns.contains("_commit_version"))
    // full range from before v0 includes the initial snapshot as added
    assert(t.changesBetween(-1, 2).count() == 4)
  }

  test("append enforces schema; evolution only with allowNewColumns") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    // wrong type
    intercept[RuntimeException] {
      t.commitAppend(Seq((2, "b")).toDF("id", "v")) // id is INT here, not BIGINT
    }
    // new column rejected by default...
    intercept[RuntimeException] {
      t.commitAppend(Seq((2L, "b", 9.0)).toDF("id", "v", "extra"))
    }
    // ...accepted with evolution; old rows read as null for the new col
    t.commitAppend(Seq((2L, "b", 9.0)).toDF("id", "v", "extra"),
      allowNewColumns = true)
    val rows = t.read().select("id", "extra").as[(Long, Option[Double])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).contains(9.0))
  }

  test("insert-only merge is idempotent and skips empty batches") {
    val t = freshTable()
    assert(t.insertOnlyMerge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq("id")).contains(0))
    // re-delivery: same keys → no new version
    assert(t.insertOnlyMerge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq("id")).isEmpty)
    assert(t.latestVersion().contains(0))
    // mixed batch: only the new key lands
    assert(t.insertOnlyMerge(Seq((2L, "x"), (3L, "c")).toDF("id", "v"),
      Seq("id")).contains(1))
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("optimize compacts files without changing content; history intact") {
    val t = freshTable()
    (0 until 5).foreach(i => if (i == 0) t.commitOverwrite(Seq((i.toLong, i)).toDF("id", "x"))
                             else t.commitAppend(Seq((i.toLong, i)).toDF("id", "x")))
    val filesBefore = t.history().last._4
    assert(filesBefore >= 5)
    t.optimize(targetRowsPerFile = 100)
    assert(t.history().last._4 == 1)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      (0L until 5L).toSeq)
    // pre-optimize snapshot still readable
    assert(t.read(Some(2)).count() == 3)
  }

  test("vacuum drops unreferenced files; retained snapshots still read") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitOverwrite(Seq((2L, "b")).toDF("id", "v")) // v0's file now unreferenced by latest
    t.commitOverwrite(Seq((3L, "c")).toDF("id", "v"))
    val deleted = t.vacuum(retainVersions = 2, minAgeMs = 0L)
    assert(deleted >= 1)
    assert(t.read().select("v").as[String].collect().toSeq == Seq("c"))
    assert(t.read(Some(1)).select("v").as[String].collect().toSeq == Seq("b"))
    intercept[Exception] { t.read(Some(0)).collect() } // vacuumed away
  }

  test("commit protocol: a second writer at the same version conflicts, never clobbers") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    // a racing writer won version 1 first
    val winner = LakeLog.Commit(1, "append", Seq("v00000001-part-00000.parquet"),
      "id BIGINT, v STRING", 2L, 0L)
    t.log.writeCommit(winner)
    // the slow writer tries to commit the same version
    val err = intercept[RuntimeException] {
      t.log.writeCommit(LakeLog.Commit(1, "overwrite", Seq.empty, "id BIGINT", 0L, 1L))
    }
    assert(err.getMessage.contains("concurrent commit conflict"))
    // the winner's record is untouched and the chain continues past it
    assert(t.versions() == Seq(0, 1))
    assert(t.history()(1) == ((1, "append", 2L, 1)))
    assert(t.commitAppend(Seq((9L, "z")).toDF("id", "v")) == 2)
  }

  test("delete is copy-on-write: only affected files rewrite, time travel keeps deleted rows") {
    val t = freshTable()
    // two separate commits → at least two files; the delete hits only v1's rows
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.commitAppend(Seq((10L, "x"), (11L, "y")).toDF("id", "v"))
    val filesBefore = t.historyDF().where(col("version") === 1).select("n_files")
      .as[Int].head()
    val v = t.delete(col("id") >= 10L && col("v") === "x")
    assert(v.contains(2))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 11L))
    // rows metadata tracks the delete
    assert(t.history().last._3 == 3L)
    // time travel: pre-delete snapshots intact
    assert(t.read(Some(0)).count() == 2)
    assert(t.read(Some(1)).count() == 4)
    assert(filesBefore >= 2)
    // no matching row → no-op, no new version
    assert(t.delete(col("id") === 999L).isEmpty)
    assert(t.latestVersion().contains(2))
    // null condition rows are KEPT (SQL DELETE semantics)
    val t2 = freshTable()
    t2.commitOverwrite(Seq((1L, Some("a")), (2L, None)).toDF("id", "v"))
    t2.delete(col("v") === "a")
    assert(t2.read().select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("update rewrites matching rows in place; non-matching rows copy through") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x"))
    t.commitAppend(Seq((3L, "c", 30.0)).toDF("id", "v", "x"))
    val v = t.update(col("id") === 2L, Map("x" -> (col("x") * 2), "v" -> lit("B")))
    assert(v.contains(2))
    assert(t.read().orderBy("id").select("id", "v", "x").as[(Long, String, Double)]
      .collect().toSeq == Seq((1L, "a", 10.0), (2L, "B", 40.0), (3L, "c", 30.0)))
    // row count metadata unchanged; old snapshot still has the old value
    assert(t.history().last._3 == 3L)
    assert(t.read(Some(1)).where(col("id") === 2L).select("x").as[Double].head() == 20.0)
    // unknown assignment column fails loudly
    intercept[RuntimeException] { t.update(col("id") === 1L, Map("nope" -> lit(1))) }
    // no match → no-op
    assert(t.update(col("id") === 99L, Map("x" -> lit(0.0))).isEmpty)
  }

  test("merge upserts: matched rows replaced, new keys inserted, pure-insert appends") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // matched (2) updates, unmatched (5) inserts
    val v = t.merge(Seq((2L, "B2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    assert(v.contains(1))
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B2"), (5L, "e")))
    assert(t.history().last == ((1, "merge", 3L, t.history().last._4)))
    // pure insert (no key overlap) → plain append action
    t.merge(Seq((9L, "z")).toDF("id", "v"), Seq("id"))
    assert(t.history().last._2 == "append")
    assert(t.read().count() == 4)
    // time travel across the merge chain
    assert(t.read(Some(0)).orderBy("id").select("v").as[String]
      .collect().toSeq == Seq("a", "b"))
    // merge into empty path bootstraps
    val t2 = freshTable()
    assert(t2.merge(Seq((1L, "a")).toDF("id", "v"), Seq("id")).contains(0))
  }

  test("update rewrites across schema-evolved files (old files read nulls for new columns)") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitAppend(Seq((2L, "b", 9.0)).toDF("id", "v", "extra"),
      allowNewColumns = true)
    // the condition hits rows in BOTH files — the pre-evolution file's
    // rows carry null for the evolved column through the rewrite
    t.update(col("id") >= 1L, Map("v" -> upper(col("v"))))
    assert(t.read().orderBy("id").select("id", "v", "extra")
      .as[(Long, String, Option[Double])].collect().toSeq ==
      Seq((1L, "A", None), (2L, "B", Some(9.0))))
  }

  test("CDF is row-level: deletes/updates emit change pairs, optimize emits nothing") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // v0
    t.delete(col("id") === 2L)                                             // v1
    t.update(col("id") === 3L, Map("v" -> lit("C")))                       // v2
    t.optimize(targetRowsPerFile = 10)                                     // v3
    t.merge(Seq((1L, "A"), (9L, "z")).toDF("id", "v"), Seq("id"))          // v4
    val cdf = t.changesBetween(0, 4)
      .select(col("id"), col("v"), col("_commit_version"), col("_change_type"))
      .as[(Long, String, Int, String)].collect().toSeq.sorted
    assert(cdf == Seq(
      (1L, "A", 4, "insert"), (1L, "a", 4, "delete"), // merge update pair
      (2L, "b", 1, "delete"),                         // delete
      (3L, "C", 2, "insert"), (3L, "c", 2, "delete"), // update pair
      (9L, "z", 4, "insert")))                        // merge insert
    // optimize (v3) contributed zero change rows; replaying the feed
    // over the v0 snapshot reproduces the v4 snapshot
    assert(t.changesBetween(2, 3).count() == 0)
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "A"), (3L, "C"), (9L, "z")))
  }

  test("restore rolls content back as a new metadata-only commit; vacuumed versions refuse") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    t.commitOverwrite(Seq((9L, "z")).toDF("id", "v"))            // v1
    val v2 = t.restore(0)
    assert(v2 == 2)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // history keeps the rolled-back version; no data was copied (v2
    // references v0's files)
    assert(t.history().map(_._2) == Seq("overwrite", "overwrite", "restore"))
    assert(t.read(Some(1)).select("id").as[Long].collect().toSeq == Seq(9L))
    // vacuum keeps only the latest 2 versions' files → v1's file is gone
    t.vacuum(retainVersions = 1, minAgeMs = 0L)
    val err = intercept[RuntimeException](t.restore(1))
    assert(err.getMessage.contains("vacuumed"))
  }

  test("checkpoint compaction: a 100-commit table resolves from checkpoint + bounded tail") {
    val t = VersionedTable(spark,
      Files.createTempDirectory("graft-vt").toString + "/t", checkpointInterval = 10)
    t.commitOverwrite(Seq((0L, 0L)).toDF("id", "x"))
    (1 until 100).foreach(i => t.commitAppend(Seq((i.toLong, i.toLong)).toDF("id", "x")))
    assert(t.versions().size == 100)
    // checkpoints landed on the interval grid
    assert(t.log.checkpointVersions() == (10 to 90 by 10).toSeq)
    // cold-handle resolution of the head reads ONE checkpoint + ≤interval tail records
    val (ckpt, tail) = t.log.resolutionCost(99)
    assert(ckpt.contains(90) && tail <= 10, s"resolution used ckpt=$ckpt tail=$tail")
    // a fresh handle (no cache) reads the full snapshot correctly
    val reopened = VersionedTable(spark, t.tablePath, checkpointInterval = 10)
    assert(reopened.read().count() == 100)
    assert(reopened.read().agg(sum($"x")).as[Long].head() == (0L until 100L).sum)
    // time travel BEFORE the first checkpoint replays only pre-checkpoint deltas
    assert(reopened.log.resolutionCost(7) == ((None, 8)))
    assert(reopened.read(Some(7)).count() == 8)
    // time travel BETWEEN checkpoints resolves from the nearest one below
    assert(reopened.log.resolutionCost(55)._1.contains(50))
    assert(reopened.read(Some(55)).count() == 56)
    // vacuum never touches the log: checkpoint + tail resolution of the
    // retained versions survives, and the horizon still applies to data.
    // (The append-only chain keeps every file referenced, so compact
    // first — v100 rewrites all 100 files and orphans the originals.)
    assert(reopened.optimize(targetRowsPerFile = 1000) == 100)
    assert(reopened.log.checkpointVersions() == (10 to 100 by 10).toSeq)
    val deleted = reopened.vacuum(retainVersions = 1, minAgeMs = 0L)
    assert(deleted >= 90)
    assert(reopened.read().count() == 100)
    intercept[Exception] { reopened.read(Some(0)).collect() }
  }

  test("_last_checkpoint pointer: cold latest reads are O(1) in table lifetime, loss/tear falls back") {
    val t = VersionedTable(spark,
      Files.createTempDirectory("graft-vt").toString + "/t", checkpointInterval = 10)
    t.commitOverwrite(Seq((0L, 0L)).toDF("id", "x"))
    (1 until 60).foreach(i => t.commitAppend(Seq((i.toLong, i.toLong)).toDF("id", "x")))
    // The hot path — cold handle, latest snapshot — is served by the
    // pointer alone: no log-directory listing, regardless of how many
    // commits the table has accumulated.
    val reopened = VersionedTable(spark, t.tablePath, checkpointInterval = 10)
    assert(reopened.latestVersion().contains(59))
    assert(reopened.log.pointerServes(59), "pointer must serve the latest snapshot")
    assert(reopened.log.resolutionCost(59) == ((Some(50), 9)))
    assert(reopened.read().count() == 60)
    // Time travel far behind the pointer is NOT pointer-served — it
    // falls back to the listing and still resolves from the right base.
    assert(!reopened.log.pointerServes(25))
    assert(reopened.log.resolutionCost(25)._1.contains(20))
    assert(reopened.read(Some(25)).count() == 26)
    // Pointer LOSS: delete the file — correctness unaffected, resolution
    // degrades to the directory listing.
    val ptr = java.nio.file.Paths.get(t.tablePath, "_graft_log", "_last_checkpoint")
    java.nio.file.Files.delete(ptr)
    val lost = VersionedTable(spark, t.tablePath, checkpointInterval = 10)
    assert(!lost.log.pointerServes(59))
    assert(lost.log.resolutionCost(59)._1.contains(50))
    assert(lost.read().count() == 60)
    // The next checkpoint boundary rewrites the pointer.
    lost.commitAppend(Seq((60L, 60L)).toDF("id", "x"))
    assert(lost.log.pointerServes(60))
    // Pointer TEAR: garbage content is ignored (fallback), never fatal.
    java.nio.file.Files.write(ptr, "{\"ver".getBytes("UTF-8"))
    val torn = VersionedTable(spark, t.tablePath, checkpointInterval = 10)
    assert(!torn.log.pointerServes(60))
    assert(torn.read().count() == 61)
  }

  test("legacy full-file-list log records still resolve (pre-delta format fallback)") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))               // v1
    // Rewrite v1's record in the LEGACY format: a complete `files` list,
    // no add/remove. If readDelta applied it as an append-delta instead
    // of a replace, v0's files would be listed twice and read() would
    // double-count their rows — so this pins both the parse fallback AND
    // the full-replace semantics.
    def addList(v: Int): Seq[String] = {
      val body = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t.tablePath, "_graft_log", f"v$v%08d.json")), "UTF-8")
      val inner = """"add"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(body).get.group(1)
      // r17 add entries are objects carrying file meta — take the paths
      """"path":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(inner).map(_.group(1)).toSeq
    }
    val v1Path = java.nio.file.Paths.get(t.tablePath, "_graft_log", "v00000001.json")
    val v1Body = new String(java.nio.file.Files.readAllBytes(v1Path), "UTF-8")
    val fullFiles = (addList(0) ++ addList(1)).map("\"" + _ + "\"").mkString("[", ",", "]")
    def keep(k: String): String =
      (s""""$k"\\s*:\\s*("(?:[^"\\\\]|\\\\.)*"|\\d+)""").r.findFirstMatchIn(v1Body).get.matched
    val legacy = s"""{"version":1,"action":"append","files":$fullFiles,""" +
      s"""${keep("schema")},${keep("rows")},${keep("ts")}}"""
    java.nio.file.Files.write(v1Path, legacy.getBytes("UTF-8"))
    // Hadoop's ChecksumFileSystem keeps a .crc sidecar per file; the
    // out-of-band rewrite above invalidates it (a real legacy table
    // would have a matching one).
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t.tablePath, "_graft_log", ".v00000001.json.crc"))
    val reopened = VersionedTable(spark, t.tablePath)
    assert(reopened.read().count() == 3, "legacy record must resolve as full replace")
    assert(reopened.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(reopened.read(Some(0)).count() == 2)
  }

  test("idempotent batch-tagged append: replays no-op, ledger records batch per version") {
    val t = freshTable()
    assert(t.commitAppendIdempotent(Seq((1L, "a")).toDF("id", "v"), "app", 0L)
      .contains(0))
    // re-delivery of batch 0 (restart/failover) commits NOTHING
    assert(t.commitAppendIdempotent(Seq((1L, "a")).toDF("id", "v"), "app", 0L)
      .isEmpty)
    assert(t.commitAppendIdempotent(Seq((2L, "b")).toDF("id", "v"), "app", 1L)
      .contains(1))
    // an OLDER batch id replayed after newer ones also no-ops
    assert(t.commitAppendIdempotent(Seq((1L, "a")).toDF("id", "v"), "app", 0L)
      .isEmpty)
    assert(t.lastCommittedBatch("app").contains(1L))
    assert(t.lastCommittedBatch("other").isEmpty)
    // a different app's batch numbering is independent
    assert(t.commitAppendIdempotent(Seq((3L, "c")).toDF("id", "v"), "other", 0L)
      .contains(2))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // the ledger is SQL-queryable and survives a fresh handle
    val reopened = VersionedTable(spark, t.tablePath)
    assert(reopened.historyDF().orderBy("version")
      .select("txn_app", "txn_batch").as[(String, Long)].collect().toSeq ==
      Seq(("app", 0L), ("app", 1L), ("other", 0L)))
    assert(reopened.lastCommittedBatch("app").contains(1L))
  }

  test("two racing writers: both appends land (loser auto-rebases), no lost rows") {
    val path = Files.createTempDirectory("graft-vt").toString + "/t"
    VersionedTable(spark, path).commitOverwrite(Seq((0L, "base")).toDF("id", "v"))
    // Two independent handles (as two jobs would have) race commitAppend
    // for version 1. The start latch maximizes the overlap window: both
    // stage data files before either attempts the log rename. The loser
    // detects the conflict and rebases its ALREADY-STAGED files onto the
    // new head inside commitAppend — no caller-side retry, no data
    // re-write.
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Int]]()
    def racer(name: String, rows: Seq[(Long, String)]): Thread = {
      val th = new Thread(() => {
        val handle = VersionedTable(spark, path)
        latch.await()
        results.put(name,
          try Right(handle.commitAppend(rows.toDF("id", "v")))
          catch { case e: Throwable => Left(e) })
      })
      th.start(); th
    }
    val a = racer("a", Seq((1L, "from-a")))
    val b = racer("b", Seq((2L, "from-b")))
    latch.countDown(); a.join(120000); b.join(120000)
    val outcomes = Seq("a", "b").map(results.get)
    // BOTH succeed: one wins version 1, the other auto-retries to 2
    assert(outcomes.forall(_.isRight), s"outcomes: $outcomes")
    assert(outcomes.collect { case Right(v) => v }.sorted == Seq(1, 2))
    val finalRows = VersionedTable(spark, path).read()
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(finalRows == Seq((0L, "base"), (1L, "from-a"), (2L, "from-b")))
    // history shows the clean chain: base overwrite + two appends, each
    // row counted exactly once (rebase reused staged files, no dup commit)
    assert(VersionedTable(spark, path).versions() == Seq(0, 1, 2))
    assert(VersionedTable(spark, path).history().map(_._2) ==
      Seq("overwrite", "append", "append"))
    assert(VersionedTable(spark, path).history().last._3 == 3L)
  }

  test("rewrite read-set validation: a delete racing a DISJOINT append rebases — both land") {
    val t = freshTable()
    // coalesce(1): exactly ONE data file so the read-set below is total
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // v0: file A
    val base = t.readCommit(0)
    val fileA = base.files.head
    assert(base.files.size == 1)
    // the delete's read-set (file A) is computed against v0, then a
    // racing append lands v1 BEFORE the delete commits
    t.commitAppend(Seq((10L, "x")).toDF("id", "v"))              // v1: file B
    val kept = t.read(Some(0)).where(col("id") =!= 1L)
    val v = t.commitRewrite("delete", base, Seq(fileA), kept)
    // the rewrite rebased onto the appended head: nothing lost, no abort
    assert(v == 2)
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((2L, "b"), (10L, "x")))
    // row accounting rebased additively (2 - 1 deleted + 1 appended)
    assert(t.history().last._3 == 2L)
    assert(t.history().map(_._2) == Seq("overwrite", "append", "delete"))
  }

  test("rewrite read-set validation: racing OVERLAPPING rewrite aborts naming both commits") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // v0: file A
    val base = t.readCommit(0)
    val fileA = base.files.head
    assert(base.files.size == 1)
    // a racing update rewrites file A (v1) after our delete read it
    assert(t.update(col("id") === 2L, Map("v" -> lit("B"))).contains(1))
    val kept = t.read(Some(0)).where(col("id") =!= 1L)
    val err = intercept[RuntimeException] {
      t.commitRewrite("delete", base, Seq(fileA), kept)
    }
    // the abort names BOTH sides: our action+base and the racing commit
    assert(err.getMessage.contains("delete") &&
      err.getMessage.contains("v0") && err.getMessage.contains("v1") &&
      err.getMessage.contains("update"), err.getMessage)
    // a racing OVERWRITE (table replacement) likewise aborts
    val t2 = freshTable()
    t2.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    val base2 = t2.readCommit(0)
    t2.commitOverwrite(Seq((9L, "z")).toDF("id", "v"))
    val err2 = intercept[RuntimeException] {
      t2.commitRewrite("delete", base2, base2.files,
        t2.read(Some(0)).limit(0))
    }
    assert(err2.getMessage.contains("replaced the whole table"), err2.getMessage)
  }

  test("time travel by timestamp: versionAt/readAsOf resolve the commit at-or-before the instant") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))        // v0
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(15)
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))           // v1
    Thread.sleep(15)
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))           // v2
    assert(t.versionAt(afterV0).contains(0))
    assert(t.readAsOf(afterV0).count() == 1)
    assert(t.versionAt(System.currentTimeMillis()).contains(2))
    assert(t.readAsOf(System.currentTimeMillis()).count() == 3)
    // before the table existed: loud, names the earliest commit
    val err = intercept[RuntimeException](t.readAsOf(0L))
    assert(err.getMessage.contains("no version committed"), err.getMessage)
  }

  test("CHECK constraints: enforced on every new-data writer, survive reopen/restore, drop works") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))            // v0
    // a constraint the existing data violates is rejected outright
    val pre = intercept[RuntimeException](t.addConstraint("x_big", "x > 15"))
    assert(pre.getMessage.contains("x_big"), pre.getMessage)
    assert(t.addConstraint("x_pos", "x > 0") == 1)                            // v1
    assert(t.constraints() == Seq("x_pos" -> "x > 0"))
    // a violating append aborts loudly BEFORE committing anything
    val err = intercept[RuntimeException] {
      t.commitAppend(Seq((3L, -1.0)).toDF("id", "x"))
    }
    assert(err.getMessage.contains("x_pos") && err.getMessage.contains("1 incoming"),
      err.getMessage)
    assert(t.latestVersion().contains(1))
    // a passing append lands and carries the set forward; nulls PASS (SQL CHECK)
    t.commitAppend(Seq((3L, 3.0), (4L, Double.NaN)).toDF("id", "x")
      .select(col("id"), when(col("id") === 4L, lit(null)).otherwise(col("x")).as("x"))) // v2
    assert(t.read().count() == 4)
    // an UPDATE whose assignment violates aborts; the in-bounds one lands
    val upd = intercept[RuntimeException] {
      t.update(col("id") === 1L, Map("x" -> lit(-5.0)))
    }
    assert(upd.getMessage.contains("x_pos"), upd.getMessage)
    assert(t.update(col("id") === 1L, Map("x" -> lit(5.0))).contains(3))      // v3
    // a MoR update is checked the same way
    val updMor = intercept[RuntimeException] {
      t.updateMoR(col("id") === 2L, Map("x" -> lit(-2.0)))
    }
    assert(updMor.getMessage.contains("x_pos"), updMor.getMessage)
    // the set survives a fresh handle (it lives in the commit record)
    assert(VersionedTable(spark, t.tablePath).constraints() ==
      Seq("x_pos" -> "x > 0"))
    // restore keeps the table DEFINITION: constraints persist across it
    t.restore(2)                                                              // v4
    assert(t.constraints() == Seq("x_pos" -> "x > 0"))
    // drop, then the previously-violating append lands
    t.dropConstraint("x_pos")                                                 // v5
    assert(t.constraints().isEmpty)
    t.commitAppend(Seq((9L, -1.0)).toDF("id", "x"))                           // v6
    assert(t.read().count() == 5)
  }

  test("replaceWhere: scoped overwrite is idempotent, leaks nothing, rewrites only affected files") {
    val t = freshTable()
    // two "days" in separate commits → separate files
    t.commitOverwrite(Seq((1L, "d1", "a"), (2L, "d1", "b")).toDF("id", "day", "v"))
    t.commitAppend(Seq((3L, "d2", "c"), (4L, "d2", "e")).toDF("id", "day", "v"))
    // re-load day 2 with corrected content
    val v = t.replaceWhere(col("day") === "d2",
      Seq((30L, "d2", "C"), (40L, "d2", "E")).toDF("id", "day", "v"))
    assert(v == 2)
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (30L, "C"), (40L, "E")))
    assert(t.history().last._2 == "replaceWhere" && t.history().last._3 == 4L)
    // only the day-2 files rewrote: every v0 (day-1) file is still a member
    assert(t.readCommit(0).files.forall(t.readCommit(2).files.contains))
    // idempotent: the SAME re-load replaces itself, content unchanged
    t.replaceWhere(col("day") === "d2",
      Seq((30L, "d2", "C"), (40L, "d2", "E")).toDF("id", "day", "v"))
    assert(t.read().count() == 4)
    // out-of-scope incoming rows fail loudly BEFORE anything commits
    val err = intercept[RuntimeException] {
      t.replaceWhere(col("day") === "d2", Seq((9L, "d1", "X")).toDF("id", "day", "v"))
    }
    assert(err.getMessage.contains("do not satisfy"), err.getMessage)
    assert(t.latestVersion().contains(3))
    // a scope with no current rows degenerates to an append
    t.replaceWhere(col("day") === "d9", Seq((90L, "d9", "z")).toDF("id", "day", "v"))
    assert(t.read().count() == 5)
    // time travel: the pre-re-load day-2 content is preserved
    assert(t.read(Some(1)).where(col("day") === "d2").select("id").as[Long]
      .collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("replaceWhereIdempotent: the scoped overwrite joins the setTransaction ledger") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"))
    // first delivery of batch 5 commits, tagged in the txn ledger
    val v = t.replaceWhereIdempotent(col("day") === "d2",
      Seq((20L, "d2", "B")).toDF("id", "day", "v"), "refresher", 5L)
    assert(v.contains(1))
    assert(t.lastCommittedBatch("refresher").contains(5L))
    assert(t.historyDF().filter(col("version") === 1)
      .select("txn_app", "txn_batch").as[(String, Long)].head() ==
      (("refresher", 5L)))
    // a replay of the SAME batch (crash between apply and cursor
    // advance) commits nothing — so does any older batch id
    assert(t.replaceWhereIdempotent(col("day") === "d2",
      Seq((21L, "d2", "X")).toDF("id", "day", "v"), "refresher", 5L).isEmpty)
    assert(t.replaceWhereIdempotent(col("day") === "d2",
      Seq((21L, "d2", "X")).toDF("id", "day", "v"), "refresher", 4L).isEmpty)
    assert(t.latestVersion().contains(1))
    assert(t.read().count() == 2)
    // the NEXT batch lands; the degenerate empty-scope path (append)
    // carries the marker too
    assert(t.replaceWhereIdempotent(col("day") === "d9",
      Seq((90L, "d9", "z")).toDF("id", "day", "v"), "refresher", 6L).contains(2))
    assert(t.lastCommittedBatch("refresher").contains(6L))
    assert(t.historyDF().filter(col("version") === 2)
      .select("txn_app", "txn_batch").as[(String, Long)].head() ==
      (("refresher", 6L)))
  }

  // ---- deletion vectors (merge-on-read deletes) ------------------------

  /** Registers `body` once per DV overlay gear: under `name` at the
    * default broadcast threshold (broadcast row-index filter), and
    * under `name [anti-join gear]` with Spark's
    * `autoBroadcastJoinThreshold` at -1, so every vector — single-row
    * ones too — takes the anti-join. */
  private def dvTest(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name [anti-join gear]") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  dvTest("MoR delete: rows gone, data files untouched, time travel intact, live-row accounting") {
    val t = freshTable()
    t.commitOverwrite((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(2)) // v0
    val filesV0 = t.readCommit(0).files
    assert(t.deleteMoR(col("id") <= 3L).contains(1))
    // every data file of v0 is STILL a member of v1 — nothing rewritten;
    // the only new snapshot member is one deletion vector
    val filesV1 = t.readCommit(1).files
    assert(filesV1.filterNot(_.startsWith("dv-")).toSet == filesV0.toSet)
    assert(filesV1.count(_.startsWith("dv-")) == 1)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (4L to 10L))
    assert(t.history().last._2 == "delete-dv" && t.history().last._3 == 7L)
    // time travel reads the pre-delete snapshot (no overlay below v1)
    assert(t.read(Some(0)).count() == 10)
    // a second MoR delete composes with the first vector
    assert(t.deleteMoR(col("id") === 10L).contains(2))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (4L to 9L))
    // no LIVE row matches an already-deleted id → no-op, nothing committed
    assert(t.deleteMoR(col("id") === 1L).isEmpty)
    assert(t.versions() == Seq(0, 1, 2))
    // skipping path reads through the same overlay
    assert(t.readWhere(col("id") >= 8L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(8L, 9L))
  }

  dvTest("rewrite row totals under vectors: partial delete, update, compaction and optimize") {
    val t = freshTable()
    t.commitOverwrite((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    for (k <- 1 to 3)
      t.commitAppend((k * 10L + 1 to k * 10L + 10).map(i => (i, s"r$i")).toDF("id", "v")
        .coalesce(1))
    // one mark in each of the four data files
    assert(t.deleteMoR(col("id").isin(2L, 12L, 22L, 33L)).contains(4))
    // the recorded total must equal the rows a scan of the snapshot holds
    // (read().count() would be answered from the recorded total itself)
    def scanned = t.read().select("id").as[Long].collect().length.toLong
    def recorded = t.rowCountAt(t.latestVersion().get)
    assert(recorded == 36L && scanned == 36L)
    // partial rewrites of one marked file while the others keep theirs
    assert(t.delete(col("id") === 15L).contains(5))
    assert(recorded == 35L && scanned == 35L)
    assert(t.update(col("id") === 25L, Map("v" -> lit("x"))).contains(6))
    assert(recorded == 35L && scanned == 35L)
    // the two rewritten files are the small ones: a partial compaction
    assert(t.compactSmallFiles(20L, minSmallFiles = 2).contains(7))
    assert(recorded == 35L && scanned == 35L)
    // every data file at once: the vectors drop, the live total carries
    t.optimize(100L)
    assert(t.readCommit(t.latestVersion().get).files.forall(!_.startsWith("dv-")))
    assert(recorded == 35L && scanned == 35L)
  }

  dvTest("racing MoR deletes, disjoint rows in the SAME data file: both land (row-level validation)") {
    val path = Files.createTempDirectory("graft-vt").toString + "/t"
    VersionedTable(spark, path)
      .commitOverwrite((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Option[Int]]]()
    def racer(name: String, cond: org.apache.spark.sql.Column): Thread = {
      val th = new Thread(() => {
        val h = VersionedTable(spark, path)
        latch.await()
        results.put(name,
          try Right(h.deleteMoR(cond)) catch { case e: Throwable => Left(e) })
      })
      th.start(); th
    }
    val a = racer("lo", col("id") <= 2L)
    val b = racer("hi", col("id") >= 9L)
    latch.countDown(); a.join(300000); b.join(300000)
    val outcomes = Seq("lo", "hi").map(results.get)
    // EVERY interleaving lands both: raced → the loser's row-level check
    // finds disjoint positions and rebases; serialized → the second just
    // sees the first's overlay and its own rows are still live
    assert(outcomes.forall(r => r != null && r.isRight), s"outcomes: $outcomes")
    assert(outcomes.collect { case Right(Some(v)) => v }.sorted == Seq(1, 2))
    val t = VersionedTable(spark, path)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (3L to 8L))
    assert(t.history().last._3 == 6L)
  }

  dvTest("MoR deletes marking the SAME row: row-level check aborts loudly naming both commits") {
    val t = freshTable()
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    val base = t.readCommit(0)
    assert(t.deleteMoR(col("id") === 5L).contains(1)) // v1: DV marks (fileA, pos of id=5)
    val dv1 = t.readCommit(1).files.filter(_.startsWith("dv-"))
    // replay the same vector under a fresh name — a delete that based on
    // v0 and marked the SAME row as the racing v1 commit
    val clashName = "dv-v00000099-testclash-part-00000.parquet"
    val dir = t.tablePath
    spark.read.parquet(dv1.map(f => s"$dir/$f"): _*).coalesce(1)
      .write.parquet(s"$dir/_stage-test-clash")
    val part = new java.io.File(s"$dir/_stage-test-clash").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(s"$dir/$clashName")))
    val err = intercept[RuntimeException] {
      t.commitDv(base, Seq(clashName), base.files.take(1), -1L)
    }
    assert(err.getMessage.contains("SAME row") && err.getMessage.contains("v0") &&
      err.getMessage.contains("v1"), err.getMessage)
    // a DISJOINT vector from the same stale base lands instead
    val okName = "dv-v00000099-testok-part-00000.parquet"
    // position of id=2 inside the (single) immutable data file
    val posOf2 = spark.read.parquet(base.files.map(f => s"$dir/$f"): _*)
      .select(col("id"), col("_metadata.row_index").as("pos"))
      .where(col("id") === 2L).select("pos").as[Long].head()
    Seq((new org.apache.hadoop.fs.Path(base.files.head).getName, posOf2))
      .toDF("file", "pos").coalesce(1).write.parquet(s"$dir/_stage-test-ok")
    val part2 = new java.io.File(s"$dir/_stage-test-ok").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part2.renameTo(new java.io.File(s"$dir/$okName")))
    assert(t.commitDv(base, Seq(okName), base.files.take(1), -1L) == 2)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 6L))
  }

  dvTest("MoR delete vs CoW rewrite: either order conflicts loudly (positions must never dangle)") {
    // CoW rewrite based BEFORE a racing DV commit on its read-set: abort
    val t = freshTable()
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    val base = t.readCommit(0)
    assert(t.deleteMoR(col("id") === 5L).contains(1)) // racing DV lands v1
    val kept = t.read(Some(0)).where(col("id") =!= 1L)
    val err = intercept[RuntimeException] {
      t.commitRewrite("delete", base, base.files, kept)
    }
    assert(err.getMessage.contains("deletion vector") &&
      err.getMessage.contains("v0") && err.getMessage.contains("v1"),
      err.getMessage)
    // DV based BEFORE a racing CoW rewrite of its target file: abort
    val t2 = freshTable()
    t2.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    val base2 = t2.readCommit(0)
    assert(t2.delete(col("id") === 1L).contains(1)) // CoW rewrite lands v1
    val staleName = "dv-v00000099-teststale-part-00000.parquet"
    Seq((new org.apache.hadoop.fs.Path(base2.files.head).getName, 4L))
      .toDF("file", "pos").coalesce(1)
      .write.parquet(s"${t2.tablePath}/_stage-test-stale")
    val part3 = new java.io.File(s"${t2.tablePath}/_stage-test-stale").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part3.renameTo(new java.io.File(s"${t2.tablePath}/$staleName")))
    val err2 = intercept[RuntimeException] {
      t2.commitDv(base2, Seq(staleName), base2.files, -1L)
    }
    assert(err2.getMessage.contains("rewrote") && err2.getMessage.contains("v1"),
      err2.getMessage)
  }

  dvTest("CoW rewrites absorb deletion vectors; optimize purges them from the snapshot") {
    val t = freshTable()
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    assert(t.deleteMoR(col("id") <= 2L).contains(1))                                // v1
    // update rewrites the file THROUGH the overlay: deleted rows stay
    // gone in the new file; the DV entries go inert (their file left)
    assert(t.update(col("id") === 6L, Map("v" -> lit("X"))).contains(2))            // v2
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((3L, "r3"), (4L, "r4"), (5L, "r5"), (6L, "X")))
    assert(t.history().last._3 == 4L)
    // optimize drops every deletion vector outright
    assert(t.readCommit(2).files.exists(_.startsWith("dv-"))) // inert but present
    t.optimize(100)                                                                  // v3
    assert(!t.readCommit(3).files.exists(_.startsWith("dv-")))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (3L to 6L))
    // time travel through the DV era still answers correctly
    assert(t.read(Some(1)).select("id").as[Long].collect().sorted.toSeq == (3L to 6L))
  }

  dvTest("change feed: delete-dv emits exactly the marked rows; a later rewrite emits no phantoms") {
    val t = freshTable()
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    assert(t.deleteMoR(col("id") <= 2L).contains(1))                                // v1
    assert(t.update(col("id") === 6L, Map("v" -> lit("X"))).contains(2))            // v2
    val dv = t.changesBetween(0, 1)
      .select(col("id"), col("_change_type")).as[(Long, String)].collect().sorted.toSeq
    assert(dv == Seq((1L, "delete"), (2L, "delete")))
    // the rewrite diff reads the replaced file through the v1 overlay, so
    // rows 1-2 (already surfaced above) do NOT reappear as deletes here
    val upd = t.changesBetween(1, 2)
      .select(col("id"), col("_change_type")).as[(Long, String)].collect().sorted.toSeq
    assert(upd == Seq((6L, "delete"), (6L, "insert")))
  }

  dvTest("MoR update: one commit = vector + new images, files untouched, CDC emits pairs") {
    val t = freshTable()
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    val filesV0 = t.readCommit(0).files
    assert(t.updateMoR(col("id") >= 5L, Map("v" -> lit("X"))).contains(1))          // v1
    val f1 = t.readCommit(1).files
    // every v0 data file is still a snapshot member; the commit only ADDED
    // one vector plus the new-image file(s)
    assert(filesV0.forall(f1.contains))
    assert(f1.count(_.startsWith("dv-")) == 1)
    assert(f1.size > filesV0.size + 1)
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq ==
      Seq((1L, "r1"), (2L, "r2"), (3L, "r3"), (4L, "r4"), (5L, "X"), (6L, "X")))
    // live-row count unchanged; action recorded
    assert(t.history().last._2 == "update-dv" && t.history().last._3 == 6L)
    // time travel pre-update
    assert(t.read(Some(0)).where(col("id") === 5L).select("v").as[String]
      .head() == "r5")
    // no live row matches → no-op, nothing committed
    assert(t.updateMoR(col("id") === 99L, Map("v" -> lit("Y"))).isEmpty)
    assert(t.versions() == Seq(0, 1))
    // CDC: the update surfaces as its delete(old image) + insert(new image)
    val cdf = t.changesBetween(0, 1)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(cdf == Seq((5L, "X", "insert"), (5L, "r5", "delete"),
      (6L, "X", "insert"), (6L, "r6", "delete")))
    // a CoW rewrite then absorbs BOTH the vector and the new images
    assert(t.update(col("id") === 1L, Map("v" -> lit("one"))).contains(2))
    assert(t.read().orderBy("id").select("v").as[String].collect().toSeq ==
      Seq("one", "r2", "r3", "r4", "X", "X"))
  }

  dvTest("MoR DML on a schema-evolved table: row positions resolve through null-backfilled reads") {
    // the risky interplay: _metadata.row_index must stay correct when
    // the scan merge-schemas old files (null-backfilled new column)
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))       // v0
    t.commitAppend(Seq((3L, "c", 9.0)).toDF("id", "v", "extra"),
      allowNewColumns = true)                                                       // v1
    // delete a row living in the PRE-evolution file
    assert(t.deleteMoR(col("id") === 1L).contains(2))                               // v2
    assert(t.read().orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(2L, 3L))
    // MoR-update a pre-evolution row: the new image carries the evolved
    // schema (null extra), the old image dies by position
    assert(t.updateMoR(col("id") === 2L, Map("v" -> lit("B"))).contains(3))         // v3
    assert(t.read().orderBy("id").select("id", "v", "extra")
      .as[(Long, String, Option[Double])].collect().toSeq ==
      Seq((2L, "B", None), (3L, "c", Some(9.0))))
    assert(t.history().last._3 == 2L)
  }

  dvTest("deletion vectors on compacted files: MoR after optimize targets the new layout") {
    val t = freshTable()
    t.commitOverwrite((1L to 8L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(2)) // v0
    assert(t.deleteMoR(col("id") === 1L).contains(1))                               // v1
    t.optimize(100)                                                                 // v2: absorbs, purges
    assert(!t.readCommit(2).files.exists(_.startsWith("dv-")))
    // a fresh MoR delete marks positions INSIDE the compacted file(s)
    assert(t.deleteMoR(col("id") <= 4L).contains(3))                                // v3
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (5L to 8L))
    // and a CoW pass absorbs that too
    t.optimize(100)                                                                 // v4
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (5L to 8L))
    assert(t.history().last._3 == 4L)
  }

  dvTest("CHECK constraints survive schema evolution and gate the evolved batch") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, 10.0)).toDF("id", "x"))                              // v0
    t.addConstraint("x_pos", "x > 0")                                               // v1
    // evolved batch with a new column: the old-column constraint still gates it
    val err = intercept[RuntimeException] {
      t.commitAppend(Seq((2L, -1.0, "z")).toDF("id", "x", "note"),
        allowNewColumns = true)
    }
    assert(err.getMessage.contains("x_pos"), err.getMessage)
    t.commitAppend(Seq((2L, 2.0, "z")).toDF("id", "x", "note"),
      allowNewColumns = true)                                                       // v2
    assert(t.constraints() == Seq("x_pos" -> "x > 0"))
    assert(t.read().count() == 2)
  }

  dvTest("vacuum keeps deletion vectors referenced by retained versions") {
    val t = freshTable()
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)) // v0
    assert(t.deleteMoR(col("id") === 1L).contains(1))                               // v1
    t.commitAppend(Seq((7L, "r7")).toDF("id", "v"))                                 // v2
    t.vacuum(retainVersions = 2, minAgeMs = 0L) // keeps v1, v2 — both reference the DV
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (2L to 7L))
    assert(t.read(Some(1)).select("id").as[Long].collect().sorted.toSeq == (2L to 6L))
  }

  dvTest("MoR delete by keys: marks the live rows whose keys appear, rewrites nothing, replays as a no-op") {
    val t = freshTable()
    t.commitOverwrite((1L to 8L).map(i => (i, i % 2, s"r$i")).toDF("id", "g", "v")
      .coalesce(2))                                                                   // v0
    val filesV0 = t.readCommit(0).files
    // duplicate, unmatched and null key tuples: only (3,1) and (4,0) match
    val keys = Seq[(Option[Long], Option[Long])]((Some(3L), Some(1L)), (Some(3L), Some(1L)),
      (Some(4L), Some(0L)), (Some(5L), Some(0L)), (None, Some(1L))).toDF("id", "g")
    assert(t.deleteMoR(keys, Seq("id", "g")).contains(1))
    val filesV1 = t.readCommit(1).files
    assert(filesV1.filterNot(_.startsWith("dv-")).toSet == filesV0.toSet)
    assert(t.readCommit(1).dvTargets.toSet.subsetOf(filesV0.toSet))
    assert(t.history().last._2 == "delete-dv" && t.history().last._3 == 6L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 5L, 6L, 7L, 8L))
    // the same keys again: already hidden by the overlay — nothing marked
    assert(t.deleteMoR(keys, Seq("id", "g")).isEmpty)
    assert(t.versions() == Seq(0, 1))
    assert(t.changesBetween(0, 1).select("id", "_change_type").as[(Long, String)]
      .collect().sorted.toSeq == Seq((3L, "delete"), (4L, "delete")))
  }

  test("8-way append contention: every writer lands exactly once through multi-round rebases") {
    // The 2-writer race proves ONE rebase; 8 simultaneous writers prove
    // the retry LOOP — a loser can lose the re-attempt again (up to 7
    // times here) and must keep rebasing its already-staged files onto
    // each new head without ever re-writing data or double-committing.
    // This is the N-racing-Bronze-writers shape the 100-TB narrative
    // claims (ARCHITECTURE.md): serialization happens at the log, cost
    // O(retries) metadata, zero re-staged bytes.
    val path = Files.createTempDirectory("graft-vt").toString + "/t"
    VersionedTable(spark, path).commitOverwrite(Seq((0L, "base")).toDF("id", "v"))
    val n = 8
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Int]]()
    val threads = (1 to n).map { i =>
      val th = new Thread(() => {
        // interval 2: the race lands checkpoints for the replay check
        val h = VersionedTable(spark, path, checkpointInterval = 2)
        latch.await()
        results.put(i,
          try Right(h.commitAppend(Seq((i.toLong, s"w$i")).toDF("id", "v")))
          catch { case e: Throwable => Left(e) })
      })
      th.start(); th
    }
    latch.countDown(); threads.foreach(_.join(300000))
    val outcomes = (1 to n).map(results.get)
    assert(outcomes.forall(r => r != null && r.isRight), s"outcomes: $outcomes")
    // all 8 landed, each on its own version, a gapless serial chain
    assert(outcomes.collect { case Right(v) => v }.sorted == (1 to n),
      s"versions: $outcomes")
    val t = VersionedTable(spark, path)
    assert(t.versions() == (0 to n))
    // no lost or duplicated rows across any interleaving
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      (0L to n.toLong))
    // cumulative row accounting survived every rebase (1 base + n appends)
    assert(t.history().last._3 == (n + 1).toLong)
    // every checkpoint holds what a cold replay of records 0..v holds
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(LakeLogSpec.checkpointsVsReplay(fs, path) == ((Seq(2, 4, 6, 8), Nil)))
  }

  test("delete and append race end-to-end through the public API: both always land") {
    val path = Files.createTempDirectory("graft-vt").toString + "/t"
    VersionedTable(spark, path)
      .commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Option[Int]]]()
    def run(name: String)(body: VersionedTable => Option[Int]): Thread = {
      val th = new Thread(() => {
        val h = VersionedTable(spark, path)
        latch.await()
        results.put(name,
          try Right(body(h)) catch { case e: Throwable => Left(e) })
      })
      th.start(); th
    }
    // the append's files are always disjoint from the delete's read-set,
    // so EVERY interleaving must commit both (the delete either sees the
    // append and serializes after it, or rebases across it)
    val a = run("del")(h => h.delete(col("id") === 1L))
    val b = run("app")(h => Some(h.commitAppend(Seq((10L, "x")).toDF("id", "v"))))
    latch.countDown(); a.join(120000); b.join(120000)
    val outcomes = Seq("del", "app").map(results.get)
    assert(outcomes.forall(_.isRight), s"outcomes: $outcomes")
    val t = VersionedTable(spark, path)
    assert(t.versions() == Seq(0, 1, 2))
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((2L, "b"), (10L, "x")))
    assert(t.history().last._3 == 2L)
  }

  test("optimize rebases across a racing append (compaction never drops fresh rows)") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
    val base = t.readCommit(1)
    // racing append lands between optimize's snapshot read and commit
    t.commitAppend(Seq((3L, "c")).toDF("id", "v")) // v2: disjoint file
    val v = t.commitRewrite("optimize", base, base.files,
      t.read(Some(1)).repartition(1))
    assert(v == 3)
    // compacted old files + the racing append's file, no row lost
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(t.history().last._3 == 3L)
  }

  test("vacuum horizon: reads/restore/change-feed below the boundary fail loudly, naming it") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))  // v0
    t.commitOverwrite(Seq((2L, "b")).toDF("id", "v"))  // v1
    t.commitOverwrite(Seq((3L, "c")).toDF("id", "v"))  // v2
    t.vacuum(retainVersions = 2, minAgeMs = 0L)        // horizon = v1
    // time travel below the horizon: loud, names the boundary version
    val e1 = intercept[RuntimeException](t.read(Some(0)))
    assert(e1.getMessage.contains("vacuum horizon v1") &&
      e1.getMessage.contains("version 0"), e1.getMessage)
    // the horizon version itself and later remain readable
    assert(t.read(Some(1)).select("v").as[String].head() == "b")
    // restore below the horizon: same loud contract
    val e2 = intercept[RuntimeException](t.restore(0))
    assert(e2.getMessage.contains("vacuum horizon v1"), e2.getMessage)
    // change feed reaching below the horizon: loud too
    val e3 = intercept[RuntimeException](t.changesBetween(0, 2))
    assert(e3.getMessage.contains("vacuum horizon v1"), e3.getMessage)
    assert(t.changesBetween(1, 2).count() >= 1)
    // readWhere is guarded like read
    val e4 = intercept[RuntimeException](t.readWhere(col("id") === 1L, Some(0)))
    assert(e4.getMessage.contains("vacuum horizon"), e4.getMessage)
    // the horizon survives a fresh handle (it's a log-dir artifact)
    val reopened = VersionedTable(spark, t.tablePath)
    val e5 = intercept[RuntimeException](reopened.read(Some(0)))
    assert(e5.getMessage.contains("vacuum horizon v1"), e5.getMessage)
    // vacuum with nothing falling out of retention writes NO horizon
    val t2 = freshTable()
    t2.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t2.vacuum(retainVersions = 5)
    assert(t2.read(Some(0)).count() == 1)
  }

  test("vacuum minAgeMs: young unreferenced files survive (retry/stage race defense)") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitOverwrite(Seq((2L, "b")).toDF("id", "v")) // v0's file now unreferenced
    // everything here is seconds old — a 1h window deletes nothing
    assert(t.vacuum(retainVersions = 1, minAgeMs = 3600L * 1000) == 0)
    // age 0 — explicitly opted into — collects it
    assert(t.vacuum(retainVersions = 1, minAgeMs = 0L) >= 1)
  }

  test("default vacuum is a real retention window: a slow in-flight append's staged files survive") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v")) // v0
    t.commitOverwrite(Seq((2L, "b")).toDF("id", "v")) // v1: v0's file unreferenced
    // simulate a slow writer mid-flight: freshly staged data (both the
    // pre-commit _stage dir and an already-renamed, not-yet-committed
    // data file) — exactly what a concurrent vacuum must never eat
    val root = new java.io.File(t.tablePath)
    val stageDir = new java.io.File(root, "_stage-v2-cafe01")
    assert(stageDir.mkdir())
    java.nio.file.Files.write(stageDir.toPath.resolve("part-0.parquet"), Array[Byte](1))
    val staged = new java.io.File(root, "v00000002-cafe01-part-00000.parquet")
    java.nio.file.Files.write(staged.toPath, Array[Byte](1))
    // DEFAULT vacuum (7-day window): deletes NOTHING young — neither the
    // in-flight files nor even v0's fresh-but-unreferenced file
    assert(t.vacuum(retainVersions = 1) == 0)
    assert(staged.exists() && stageDir.exists())
    assert(t.read().select("v").as[String].head() == "b")
    // explicit minAgeMs = 0 (quiesced maintenance) collects all three
    assert(t.vacuum(retainVersions = 1, minAgeMs = 0L) >= 3)
    assert(!staged.exists() && !stageDir.exists())
  }

  test("constraint change racing ANY commit aborts (no unvalidated rows slide under the new set)") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, 5L)).toDF("id", "x"))    // v0
    val base = t.readCommit(0)                          // constraint writer's base
    t.commitAppend(Seq((2L, -1L)).toDF("id", "x"))      // racing append with x < 0
    // the constraint writer validated existing rows at v0 only — its
    // commit must ABORT rather than rebase past the unvalidated append
    // (this drives addConstraint's exact commit tail with the stale base)
    val e = intercept[RuntimeException](
      t.commitRebasing("constraint", base, Set.empty,
        mkFiles = _.files, mkRows = _.rows,
        mkConstraints = hc => hc.constraints :+ (("x_pos", "x > 0")),
        maxRetries = 0))
    assert(e.getMessage.contains("constraint conflict"), e.getMessage)
    assert(t.constraints().isEmpty)
    // a re-run against the fresh head re-validates ALL rows and fails on
    // the -1 — the invariant the abort exists to protect
    val e2 = intercept[RuntimeException](t.addConstraint("x_pos", "x > 0"))
    assert(e2.getMessage.contains("x_pos"), e2.getMessage)
  }

  test("two racing constraint commits: the loser aborts instead of silently dropping the winner") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, 5L)).toDF("id", "x"))    // v0
    val h2 = VersionedTable(spark, t.tablePath)
    val base = h2.readCommit(0)                         // h2's stale base
    assert(t.addConstraint("c1", "x > 0") == 1)         // winner lands v1
    val e = intercept[RuntimeException](
      h2.commitRebasing("constraint", base, Set.empty,
        mkFiles = _.files, mkRows = _.rows,
        mkConstraints = hc => hc.constraints :+ (("c2", "x < 100")),
        maxRetries = 0))
    assert(e.getMessage.contains("constraint conflict"), e.getMessage)
    // c1 intact; a RE-RUN of c2 against the fresh head keeps BOTH
    assert(h2.addConstraint("c2", "x < 100") == 2)
    assert(VersionedTable(spark, t.tablePath).constraints().toMap ==
      Map("c1" -> "x > 0", "c2" -> "x < 100"))
  }

  test("restore validates restored content against the CURRENT constraint set") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, -5L), (2L, 3L)).toDF("id", "x")) // v0: holds x < 0
    t.delete(col("x") < 0)                                      // v1: clean
    t.addConstraint("x_pos", "x > 0")                           // v2
    // restoring v0 would put the -5 row back under an active CHECK —
    // must fail loudly, committing nothing
    val e = intercept[RuntimeException](t.restore(0))
    assert(e.getMessage.contains("x_pos"), e.getMessage)
    assert(t.latestVersion().contains(2))
    // a version that satisfies the set restores fine, constraints intact
    assert(t.restore(1) == 3)
    assert(t.constraints() == Seq("x_pos" -> "x > 0"))
  }

  test("filesHitByKeys keeps the conservative superset for FLOAT key columns") {
    // r17 advice: widening the key 0.1f to double (0.10000000149…) while
    // the stat string "0.1" parsed as the nearest double made kv > mx on
    // a min=max single-value file — the file was wrongly EXCLUDED and
    // the Update sink kept stale rows. Both sides must compare in float.
    val t = freshTable()
    t.commitOverwrite(Seq((0.1f, "a")).toDF("k", "v"))   // one file, min=max=0.1
    t.commitAppend(Seq((7.5f, "b")).toDF("k", "v"))      // a second, disjoint file
    val hits = t.filesHitByKeys(Seq(Tuple1(0.1f)).toDF("k"), Seq("k"))
    assert(hits.size == 1, s"expected exactly the 0.1f file, got $hits")
    // the hit file really is the one holding the key
    assert(t.readSnapshotFiles(hits).select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("property keys and constraint names equal to commit-record field names round-trip") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    // the log is read as a parsed tree, so a key inside `props` or
    // `constraints` can never be taken for a top-level record field
    val keys = Seq("pcols", "dvTargets", "droppedPhys", "txnApp", "add", "props")
    keys.foreach(k => t.setProperties(Seq(k -> "x")))
    t.addConstraint("colmap", "id > 0")
    t.setProperties(Seq("team" -> "\"pcols\""))
    val fresh = VersionedTable(spark, t.tablePath)
    assert(fresh.read().count() == 1)
    assert(fresh.partitionColumns().isEmpty)
    assert(fresh.lastCommittedBatch("x").isEmpty)
    assert(fresh.constraints().toMap.get("colmap").contains("id > 0"))
    val props = fresh.properties().toMap
    keys.foreach(k => assert(props.get(k).contains("x"), s"$k: $props"))
    assert(props.get("team").contains("\"pcols\""))
  }

  test("log-planned native reads surface the add-commit time as file_modification_time") {
    val before = System.currentTimeMillis() - 1000
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
    val mts = t.read().select(col("_metadata.file_modification_time"))
      .distinct().collect().map(_.getTimestamp(0).getTime)
    // r17 advice: synthetic statuses returned epoch 0 here
    assert(mts.forall(_ >= before), s"expected add-commit times, got ${mts.toSeq}")
    // durable across a checkpoint-resolved fresh handle (fmeta persists mtime)
    val reopened = VersionedTable(spark, t.tablePath)
    val mts2 = reopened.read().select(col("_metadata.file_modification_time"))
      .distinct().collect().map(_.getTimestamp(0).getTime)
    assert(mts2.sorted.toSeq == mts.sorted.toSeq)
  }

  test("state is durable: a fresh handle sees the same log and snapshots") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
    val reopened = VersionedTable(spark, t.tablePath)
    assert(reopened.versions() == Seq(0, 1))
    assert(reopened.read().count() == 2)
    assert(reopened.read(Some(0)).count() == 1)
    // and the reopened handle continues the version chain
    assert(reopened.commitAppend(Seq((3L, "c")).toDF("id", "v")) == 2)
    assert(t.read().count() == 3) // visible through the original handle too
  }

  test("r19: NOT NULL columns — declaration validates existing rows, batches reject atomically, DDL guards hold") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
      .toDF("id", "v"))                                                      // v0
    // a column already holding nulls refuses the declaration
    val pre = intercept[RuntimeException](t.setNotNull("v"))
    assert(pre.getMessage.contains("violated"), pre.getMessage)
    // a clean column accepts it; idempotent re-declare returns the head
    assert(t.setNotNull("id") == 1)
    assert(t.setNotNull("id") == 1)
    assert(t.notNullColumns() == Seq("id"))
    // a violating batch atomically rejects — NOTHING committed
    val bad = intercept[RuntimeException](
      t.commitAppend(Seq((Some(9L), "x"), (None, "y"))
        .toDF("id", "v")))
    assert(bad.getMessage.contains("__notnull__id"), bad.getMessage)
    assert(t.latestVersion().contains(1) && t.read().count() == 3)
    // a clean batch lands
    t.commitAppend(Seq((9L, "x")).toDF("id", "v"))                           // v2
    assert(t.read().count() == 4)
    // survives overwrite (constraints are definition, not content) and
    // still gates the overwritten future
    t.commitOverwrite(Seq((5L, "z")).toDF("id", "v"))                        // v3
    assert(t.notNullColumns() == Seq("id"))
    intercept[RuntimeException](
      t.commitAppend(Seq[(Option[Long], String)]((None, "w")).toDF("id", "v")))
    // DDL guards: rename/drop of a NOT NULL column refuse; the reserved
    // name is walled off from the CHECK API in both directions
    assert(intercept[RuntimeException](t.renameColumn("id", "id2"))
      .getMessage.contains("constraint"))
    assert(intercept[RuntimeException](t.dropColumn("id"))
      .getMessage.contains("constraint"))
    intercept[IllegalArgumentException](t.addConstraint("__notnull__v", "v IS NOT NULL"))
    intercept[IllegalArgumentException](t.dropConstraint("__notnull__id"))
    // drop releases the declaration; nulls flow again; unknown col no-ops
    t.dropNotNull("id")                                                      // v4
    assert(t.notNullColumns().isEmpty)
    t.commitAppend(Seq[(Option[Long], String)]((None, "w")).toDF("id", "v")) // v5
    assert(t.read().filter(col("id").isNull).count() == 1)
    assert(t.dropNotNull("never_had") == 5)
    // unknown column refuses
    assert(intercept[RuntimeException](t.setNotNull("nope"))
      .getMessage.contains("no column"))
  }
}
