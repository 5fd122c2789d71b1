package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.Merge._

/** A publish arbiter that runs one injected action (a racing writer's
  * commit) right before the next publish it arbitrates, then publishes
  * rename-if-absent — so the racer deterministically takes the version
  * the caller is about to claim. Top-level: instantiated by reflection
  * from `spark.graft.lake.commitPublisher`. */
class RacingPublisher extends VersionedTable.CommitPublisher {
  override def publishIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    Option(RacingPublisher.racer.getAndSet(null)).foreach(_())
    !fs.exists(dst) && fs.rename(tmp, dst)
  }
}
object RacingPublisher {
  val racer = new java.util.concurrent.atomic.AtomicReference[() => Unit](null)
}

/** Conditional MERGE clauses (Delta's full WHEN grammar) — the pure
  * relational cores in [[Merge]] and the atomic commit protocol in
  * [[VersionedTable.mergeConditional]], the lake's one merge (`merge`
  * and `insertOnlyMerge` are clause lists on it), including the
  * interplay rows the r13 verdict asked for (merge×DV,
  * merge×constraints).
  */
class MergeClauseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable() = VersionedTable(spark,
    Files.createTempDirectory("graft-vt").toString + "/t")

  private def base() = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)
  ).toDF("id", "v", "x")

  test("CDC apply: ONE commit updates some matched rows, deletes others, inserts new keys") {
    cdcApply()
  }

  // the rewrite's other full-outer join gear: a source too large to
  // broadcast sort-merges instead of hashing (forced here by turning
  // broadcasts off)
  test("CDC apply through the sort-merge join gear gives the same commit") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try cdcApply()
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def cdcApply(): Unit = {
    val t = freshTable()
    t.commitOverwrite(base()) // v0
    // mixed CDC batch — the extra `op` column is condition-frame-only:
    // upsert id=1 (matched → update), delete id=2 (matched → delete),
    // upsert id=9 (unmatched → insert), delete id=8 (unmatched → no-op)
    val cdc = Seq(
      (1L, "A", 11L, "upsert"), (2L, "b", 20L, "delete"),
      (9L, "Z", 90L, "upsert"), (8L, "-", 0L, "delete")
    ).toDF("id", "v", "x", "op")
    val v = t.mergeConditional(cdc, Seq("id"), Seq(
      MatchedDelete(Some(col("s.op") === "delete")),
      MatchedUpdate(Some(col("s.op") === "upsert"), None),
      NotMatchedInsert(Some(col("s.op") === "upsert"))))
    assert(v.contains(1)) // one atomic commit
    assert(t.read().orderBy("id").select("id", "v", "x")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "A", 11L), (3L, "c", 30L), (4L, "d", 40L), (9L, "Z", 90L)))
    // time travel to pre-merge still sees the old content
    assert(t.read(Some(0)).count() == 4)
  }

  test("clause order is first-match-wins within each group") {
    val t = freshTable()
    t.commitOverwrite(base())
    val src = Seq((1L, "s1", 100L, true), (2L, "s2", 200L, true))
      .toDF("id", "v", "x", "flag")
    // both clauses' conditions hold for both rows — the FIRST claims
    val v = t.mergeConditional(src, Seq("id"), Seq(
      MatchedUpdate(Some(col("s.flag")), Some(Map("v" -> lit("first")))),
      MatchedDelete(Some(col("s.flag")))))
    assert(v.contains(1))
    assert(t.read().filter(col("id") <= 2).select("v").as[String]
      .collect().toSeq.sorted == Seq("first", "first"))
  }

  test("SET-list update assigns listed columns only; t/s frames both usable in expressions") {
    val t = freshTable()
    t.commitOverwrite(base())
    val src = Seq((1L, "ignored", 5L), (3L, "ignored", 7L)).toDF("id", "v", "x")
    val v = t.mergeConditional(src, Seq("id"), Seq(
      MatchedUpdate(None, Some(Map("x" -> (col("t.x") + col("s.x")))))))
    assert(v.contains(1))
    assert(t.read().orderBy("id").select("id", "v", "x")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 15L), (2L, "b", 20L), (3L, "c", 37L), (4L, "d", 40L)))
  }

  test("whenNotMatchedBySource: delete sweeps unmatched target rows, update stamps them") {
    val t = freshTable()
    t.commitOverwrite(base())
    val src = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "x")
    // retention sweep: rows the batch didn't confirm get deleted when
    // stale (x >= 40), stamped otherwise
    val v = t.mergeConditional(src, Seq("id"), Seq(
      NotMatchedBySourceDelete(Some(col("t.x") >= 40)),
      NotMatchedBySourceUpdate(None, Map("v" -> lit("stale")))))
    assert(v.contains(1))
    assert(t.read().orderBy("id").select("id", "v", "x")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "stale", 30L)))
  }

  test("only files holding claimed rows rewrite; unmatched-no-op keys touch nothing") {
    val t = freshTable()
    // 4 single-row files — file-level rewrite accounting is observable
    t.commitOverwrite(base().repartition(4, col("id")))
    val filesBefore = t.readCommit(0).files.toSet
    val src = Seq((1L, "A", 11L)).toDF("id", "v", "x")
    val v = t.mergeConditional(src, Seq("id"), Seq(MatchedUpdate(None, None)))
    assert(v.contains(1))
    val after = t.readCommit(1).files.toSet
    // at most one data file left the snapshot (the one holding id=1)
    assert((filesBefore -- after).size == 1, s"rewrote ${filesBefore -- after}")
    assert(t.read().count() == 4)
  }

  test("a stats-prunable by-source condition bounds the probe AND the rewrite to matching files") {
    val t = freshTable()
    // two files with disjoint x ranges (10..200 / 210..400)
    t.commitOverwrite((1L to 40L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "x").repartitionByRange(2, col("x")))
    val files0 = t.readCommit(0).files.toSet
    val src = Seq((1L, "a", 10L)).toDF("id", "v", "x")
    // retention sweep of unmatched rows with x >= 300: min/max stats
    // prove the low file holds none — only the high file may rewrite
    val v = t.mergeConditional(src, Seq("id"),
      Seq(NotMatchedBySourceDelete(Some(col("t.x") >= 300L))))
    assert(v.contains(1))
    val rewrote = files0 -- t.readCommit(1).files.toSet
    assert(rewrote.size == 1, s"expected 1 file rewritten, got $rewrote")
    assert(t.read().count() == 29) // 40 - rows with x in [300,400]
    assert(t.read().filter(col("x") >= 300).count() == 0)
  }

  test("no clause claims anything → None, nothing committed") {
    val t = freshTable()
    t.commitOverwrite(base())
    val src = Seq((99L, "z", 0L)).toDF("id", "v", "x")
    assert(t.mergeConditional(src, Seq("id"),
      Seq(MatchedUpdate(None, None))).isEmpty)
    assert(t.mergeConditional(src, Seq("id"),
      Seq(NotMatchedInsert(Some(lit(false))))).isEmpty)
    assert(t.latestVersion().contains(0))
  }

  test("duplicate source keys are rejected up front (ambiguous matched claim)") {
    val t = freshTable()
    t.commitOverwrite(base())
    val src = Seq((1L, "p", 1L), (1L, "q", 2L)).toDF("id", "v", "x")
    val e = intercept[RuntimeException](
      t.mergeConditional(src, Seq("id"), Seq(MatchedUpdate(None, None))))
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    assert(t.latestVersion().contains(0))
  }

  test("merge×DV: clauses apply through the deletion-vector overlay (dead rows stay dead)") {
    val t = freshTable()
    t.commitOverwrite(base())                        // v0
    assert(t.deleteMoR(col("id") === 2L).contains(1)) // v1: id=2 dead by DV
    // a source row for the DV-deleted key is UNMATCHED → inserts anew;
    // a matched update on id=1 reads through the overlay
    val src = Seq((1L, "A", 11L), (2L, "B", 22L)).toDF("id", "v", "x")
    val v = t.mergeConditional(src, Seq("id"), Seq(
      MatchedUpdate(None, None), NotMatchedInsert(None)))
    assert(v.contains(2))
    assert(t.read().orderBy("id").select("id", "v")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("merge×constraints: an update image violating a CHECK aborts, nothing commits") {
    val t = freshTable()
    t.commitOverwrite(base())            // v0
    t.addConstraint("x_pos", "x > 0")    // v1
    val src = Seq((1L, "A", -5L)).toDF("id", "v", "x")
    val e = intercept[RuntimeException](
      t.mergeConditional(src, Seq("id"), Seq(MatchedUpdate(None, None))))
    assert(e.getMessage.contains("x_pos"), e.getMessage)
    assert(t.latestVersion().contains(1))
    // a conforming image lands and the constraint rides the commit
    assert(t.mergeConditional(Seq((1L, "A", 5L)).toDF("id", "v", "x"),
      Seq("id"), Seq(MatchedUpdate(None, None))).contains(2))
    assert(t.constraints() == Seq("x_pos" -> "x > 0"))
  }

  test("source with extra condition-only columns; missing target columns rejected") {
    val t = freshTable()
    t.commitOverwrite(base())
    // extra column: fine (condition frame only, projected away)
    val ok = Seq((1L, "A", 11L, "meta")).toDF("id", "v", "x", "extra")
    assert(t.mergeConditional(ok, Seq("id"),
      Seq(MatchedUpdate(None, None))).contains(1))
    assert(t.read().columns.toSeq == Seq("id", "v", "x"))
    // missing target column: loud
    val bad = Seq((1L, "A")).toDF("id", "v")
    val e = intercept[RuntimeException](
      t.mergeConditional(bad, Seq("id"), Seq(MatchedUpdate(None, None))))
    assert(e.getMessage.contains("missing target column"), e.getMessage)
  }

  test("empty table: insert clauses seed it, matched-only merge no-ops") {
    val t = freshTable()
    assert(t.mergeConditional(base(), Seq("id"),
      Seq(MatchedUpdate(None, None))).isEmpty)
    assert(t.mergeConditional(base(), Seq("id"),
      Seq(NotMatchedInsert(Some(col("s.x") > 15)))).contains(0))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L))
  }

  test("merge aborts when a racing append lands a key it inserts (no rebase)") {
    spark.conf.set("spark.graft.lake.commitPublisher", classOf[RacingPublisher].getName)
    try {
      val t = freshTable()
      t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
      // the racer appends key 5 through a second handle just before the
      // merge publishes its rewrite (update id=2, insert id=5)
      RacingPublisher.racer.set(() => VersionedTable(spark, t.tablePath)
        .commitAppend(Seq((5L, "racer")).toDF("id", "v")))
      val e = intercept[RuntimeException](
        t.merge(Seq((2L, "B2"), (5L, "e")).toDF("id", "v"), Seq("id")))
      assert(e.getMessage.contains("concurrent commit conflict"), e.getMessage)
      // the racer's append is the only v1; key 5 is never duplicated
      assert(t.versions() == Seq(0, 1))
      assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
        .collect().toSeq == Seq((1L, "a"), (2L, "b"), (5L, "racer")))
    } finally {
      RacingPublisher.racer.set(null)
      spark.conf.unset("spark.graft.lake.commitPublisher")
    }
  }

  test("merge rejects a target row matched by two source rows") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val e = intercept[RuntimeException](
      t.merge(Seq((2L, "p"), (2L, "q"), (7L, "n")).toDF("id", "v"), Seq("id")))
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    assert(t.latestVersion().contains(0))
  }

  test("duplicate source keys that match no target row all insert (Delta's rule)") {
    val t = freshTable()
    t.commitOverwrite(base())
    val src = Seq((1L, "A", 11L), (9L, "p", 90L), (9L, "q", 91L)).toDF("id", "v", "x")
    assert(t.mergeConditional(src, Seq("id"),
      Seq(MatchedUpdate(None, None), NotMatchedInsert(None))).contains(1))
    assert(t.read().filter(col("id").isin(1L, 9L)).orderBy("id", "v")
      .select("id", "v").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A"), (9L, "p"), (9L, "q")))
    assert(t.history().last._3 == 6L)
  }

  test("merge projects away extra source columns, on the rewrite and the append path") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.merge(Seq((2L, "B2", "x"), (5L, "e", "y")).toDF("id", "v", "op"),
      Seq("id")).contains(1))
    assert(t.merge(Seq((9L, "z", "w")).toDF("id", "v", "op"), Seq("id")).contains(2))
    assert(t.history().last._2 == "append")
    assert(t.read().columns.toSeq == Seq("id", "v"))
    assert(t.read().orderBy("id").select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B2"), (5L, "e"), (9L, "z")))
  }

  test("insertOnlyMerge projects away extra source columns (Delta's insert-all rule)") {
    val t = freshTable()
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.insertOnlyMerge(Seq((2L, "B2", "x"), (5L, "e", "y")).toDF("id", "v", "op"),
      Seq("id")).contains(1))
    assert(t.history().last._2 == "append")
    assert(t.read().columns.toSeq == Seq("id", "v"))
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (5L, "e")))
    assert(t.rowCountAt(1) == 3)
  }

  test("no table yet: insert clauses create it even when they claim no row") {
    val t = freshTable()
    assert(t.mergeConditional(base(), Seq("id"),
      Seq(NotMatchedInsert(Some(col("s.x") > 100)))).contains(0))
    assert(t.read().count() == 0)
    assert(t.read().columns.toSeq == Seq("id", "v", "x"))
  }
}
