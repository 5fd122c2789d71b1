package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Column mapping (rename / drop as metadata-only commits): the
  * logical→physical overlay in the commit record, physical-name
  * stability, dropped-physical tombstones, and the
  * evolution×MoR×rename interplay the r13 verdict asked for.
  */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable() = VersionedTable(spark,
    Files.createTempDirectory("graft-vt").toString + "/t")

  private def base() = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)
  ).toDF("id", "v", "x")

  test("rename is metadata-only: zero files touched, new name reads, time travel keeps the old") {
    val t = freshTable()
    t.commitOverwrite(base())                       // v0
    val filesBefore = t.readCommit(0).files
    assert(t.renameColumn("v", "label") == 1)       // v1
    assert(t.readCommit(1).files == filesBefore)    // SAME files re-referenced
    assert(t.read().columns.toSeq == Seq("id", "label", "x"))
    assert(t.read().filter(col("label") === "b").count() == 1)
    // pre-rename version still shows the old logical name
    assert(t.read(Some(0)).columns.toSeq == Seq("id", "v", "x"))
    // the data FILES still store the stable physical name
    val physical = spark.read.parquet(s"${t.tablePath}/${filesBefore.head}")
    assert(physical.columns.contains("v") && !physical.columns.contains("label"))
  }

  test("appends after a rename stage under the stable physical name; old+new files co-read") {
    val t = freshTable()
    t.commitOverwrite(base())                       // v0
    t.renameColumn("v", "label")                    // v1
    val v2 = t.commitAppend(Seq((4L, "d", 40L)).toDF("id", "label", "x"))
    assert(v2 == 2)
    assert(t.read().orderBy("id").select("id", "label")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // the NEW file also stores the physical name, not the logical one
    val newFile = (t.readCommit(2).files.toSet -- t.readCommit(1).files.toSet).head
    val physical = spark.read.parquet(s"${t.tablePath}/$newFile")
    assert(physical.columns.contains("v") && !physical.columns.contains("label"))
    // appends under the OLD name are rejected (schema is logical)
    val e = intercept[RuntimeException](
      t.commitAppend(Seq((5L, "e", 50L)).toDF("id", "v", "x")))
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
  }

  test("mutations resolve through the map: update/delete/MoR on the renamed column") {
    val t = freshTable()
    t.commitOverwrite(base())
    t.renameColumn("v", "label")
    assert(t.update(col("label") === "a",
      Map("label" -> lit("A"))).contains(2))
    assert(t.deleteMoR(col("label") === "b").contains(3))
    assert(t.delete(col("x") >= 30L).contains(4))
    assert(t.read().select("id", "label").as[(Long, String)]
      .collect().toSeq == Seq((1L, "A")))
    // CDF across the mapped range surfaces post-rename names
    val cdf = t.changesBetween(1, 3)
    assert(cdf.columns.contains("label") && !cdf.columns.contains("v"))
  }

  test("stats-based skipping survives a rename (physical-keyed stats remap to logical)") {
    val t = freshTable()
    // two files with DISJOINT x ranges → the predicate must prune one
    t.commitOverwrite((1L to 50L).map(i => (i, s"r$i", i)).toDF("id", "v", "x")
      .repartitionByRange(2, col("x")))
    t.renameColumn("x", "measure")
    val cand = t.candidateFiles(col("measure") === 5L)
    val (_, all) = (Seq.empty[String], t.readCommit(1).files)
    assert(all.size >= 2)
    assert(cand.size < all.size, s"pruning failed: $cand of $all")
    assert(t.readWhere(col("measure") === 5L).count() == 1)
  }

  test("drop is metadata-only; re-adding the name binds a FRESH physical — old data never resurfaces") {
    val t = freshTable()
    t.commitOverwrite(base())                       // v0
    val filesBefore = t.readCommit(0).files
    assert(t.dropColumn("v") == 1)                  // v1: metadata-only
    assert(t.readCommit(1).files == filesBefore)
    assert(t.read().columns.toSeq == Seq("id", "x"))
    // time travel to pre-drop still reads the column
    assert(t.read(Some(0)).columns.contains("v"))
    // evolution re-adds logical "v" — must NOT rebind the residual bytes
    t.commitAppend(Seq((9L, 90L, "fresh")).toDF("id", "x", "v"),
      allowNewColumns = true)                       // v2
    val rows = t.read().orderBy("id").select("id", "v")
      .as[(Long, Option[String])].collect().toSeq
    assert(rows == Seq((1L, None), (2L, None), (3L, None), (9L, Some("fresh"))),
      s"dropped data resurfaced: $rows")
  }

  test("rename/drop rejected while a CHECK constraint references the column") {
    val t = freshTable()
    t.commitOverwrite(base())
    t.addConstraint("x_pos", "x > 0")
    val e1 = intercept[RuntimeException](t.renameColumn("x", "y"))
    assert(e1.getMessage.contains("x_pos"), e1.getMessage)
    val e2 = intercept[RuntimeException](t.dropColumn("x"))
    assert(e2.getMessage.contains("x_pos"), e2.getMessage)
    // an unreferenced column renames fine, constraint intact
    assert(t.renameColumn("v", "label") == 2)
    assert(t.constraints() == Seq("x_pos" -> "x > 0"))
  }

  test("evolution×MoR×rename interplay: marks, overlays, and images all resolve through the map") {
    val t = freshTable()
    t.commitOverwrite(base())                                  // v0
    t.commitAppend(Seq((4L, "d", 40L, 4.5)).toDF("id", "v", "x", "score"),
      allowNewColumns = true)                                  // v1: evolution
    t.renameColumn("score", "quality")                         // v2
    // MoR delete on the renamed, evolved column: pre-evolution files
    // null-backfill quality, so only id=4 matches
    assert(t.deleteMoR(col("quality") > 4.0).contains(3))      // v3
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // MoR update via the map: new images carry the physical layout
    assert(t.updateMoR(col("id") === 1L,
      Map("quality" -> lit(9.9))).contains(4))                 // v4
    assert(t.read().filter(col("id") === 1L).select("quality")
      .as[Option[Double]].head().contains(9.9))
    // optimize absorbs the DVs through the map; content stable
    t.optimize(targetRowsPerFile = 1000)                       // v5
    assert(t.read().orderBy("id").select("id", "quality")
      .as[(Long, Option[Double])].collect().toSeq ==
      Seq((1L, Some(9.9)), (2L, None), (3L, None)))
    // and a rewrite racing a rename aborts (schema-change conflict)
    val base4 = t.readCommit(5)
    t.renameColumn("v", "label")                               // v6
    val e = intercept[RuntimeException](
      t.commitRewrite("delete", base4, base4.files.filterNot(_.startsWith("dv-")),
        t.read(Some(5)).limit(1)))
    assert(e.getMessage.contains("schema change"), e.getMessage)
  }

  test("change feed after a drop (empty overlay) hides the tombstoned column; rewrite diffs align") {
    val t = freshTable()
    t.commitOverwrite(base())            // v0: (id, v, x)
    t.dropColumn("v")                    // v1: colMap empty, droppedPhys=[v]
    t.delete(col("x") >= 30L)            // v2: CoW rewrite of pre-drop files
    val cdf = t.changesBetween(1, 2)
    // the tombstoned column must not resurface in the feed, and the
    // rewrite-diff branch must align old (id,v,x) files against new
    // (id,x) files instead of failing to resolve
    assert(!cdf.columns.contains("v"), cdf.columns.mkString(","))
    assert(cdf.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("a dropped physical's stats never prune the re-added logical column") {
    val t = freshTable()
    t.commitOverwrite((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1))                                              // v0
    t.dropColumn("v")                                            // v1
    t.commitAppend(Seq((21L, "fresh")).toDF("id", "v"),
      allowNewColumns = true)                                    // v2: v → fresh phys
    // pre-drop rows read logical v as NULL; the dead physical 'v'
    // stats (nulls = 0) must not prune the pre-drop file
    assert(t.readWhere(col("v").isNull).count() == 20)
    assert(t.readWhere(col("v") === "fresh").count() == 1)
  }

  test("merge and replaceWhere through the map") {
    val t = freshTable()
    t.commitOverwrite(base())
    t.renameColumn("v", "label")
    assert(t.merge(Seq((2L, "B2", 21L), (5L, "e", 50L)).toDF("id", "label", "x"),
      Seq("id")).contains(2))
    assert(t.read().orderBy("id").select("label").as[String].collect().toSeq ==
      Seq("a", "B2", "c", "e"))
    t.replaceWhere(col("label") === "c",
      Seq((3L, "c", 33L)).toDF("id", "label", "x"))
    assert(t.read().filter(col("id") === 3L).select("x").as[Long].head() == 33L)
  }

  test("overwrite resets the mapping; restore carries the restored version's map") {
    val t = freshTable()
    t.commitOverwrite(base())                       // v0
    t.renameColumn("v", "label")                    // v1
    t.commitOverwrite(Seq((7L, "z")).toDF("id", "name")) // v2: fresh schema
    assert(t.read().columns.toSeq == Seq("id", "name"))
    // restore to the mapped version: logical view comes back intact
    t.restore(1)                                    // v3
    assert(t.read().columns.toSeq == Seq("id", "label", "x"))
    assert(t.read().orderBy("id").select("label").as[String].collect().toSeq ==
      Seq("a", "b", "c"))
  }

  test("r18: mapped snapshots scan NATIVELY — vectorized file source, stats pruning intact") {
    val t = freshTable()
    t.commitOverwrite((1L to 100L).map(i => (i, s"v$i", i * 2.0)).toDF("id", "v", "x"))
    t.commitAppend((101L to 200L).map(i => (i, s"v$i", i * 2.0)).toDF("id", "v", "x"))
    t.renameColumn("v", "label")
    t.dropColumn("x")
    // the read plan bottoms out in a FileSourceScanExec over the graft
    // index (the vectorized native path), NOT the V1 row bridge that
    // cost a measured ~1.4× on scan-bound aggregates
    val df = t.read()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.treeString)
    assert(scans.head.relation.location.isInstanceOf[
      org.apache.spark.sql.graft.GraftFileIndex])
    // physical schema scanned, logical surfaced
    assert(scans.head.relation.dataSchema.fieldNames.toSet == Set("id", "v"))
    assert(df.columns.toSeq == Seq("id", "label"))
    assert(df.filter(col("label") === "v150").count() == 1)
    // stats pruning still fires THROUGH the rename (physical→logical
    // translation inside the index): a selective predicate on the
    // renamed column plans fewer files than the snapshot holds
    val snap = t.snapshotDataFiles().size
    df.filter(col("id") === 150L).count()
    val planned = org.apache.spark.sql.graft.GraftLakeRelation
      .lastScanFiles.get(t.tablePath)
    assert(planned < snap, s"expected pruning: planned $planned of $snap")
    // DV + mapping combined stays native and correct
    t.deleteMoR(col("id") <= 50L)
    assert(t.read().count() == 150)
    assert(t.read().filter(col("label") === "v25").count() == 0)
  }
}
