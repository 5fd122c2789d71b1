package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A local filesystem that COUNTS directory listings, registered under
  * its own `cfs:` scheme — the instrumentation that lets the suite
  * prove, not claim, that planning a lake read does zero `listStatus`
  * calls. Top-level class: Hadoop instantiates it by reflection from
  * the `fs.cfs.impl` conf key. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingLocalFs.probed.add(f.toUri.getPath)
    super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val probed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { listed.clear(); opened.clear(); probed.clear() }
  def listingsOf(pathSuffix: String): Int = {
    val it = listed.iterator()
    var n = 0
    while (it.hasNext) { if (it.next().endsWith(pathSuffix)) n += 1 }
    n
  }
  /** Distinct basenames of opened files matching `pred` — the
    * runtime-read proof (which DATA files a plan actually touched). */
  def openedNames(pred: String => Boolean): Set[String] = {
    val it = opened.iterator()
    val out = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val p = it.next()
      if (pred(p)) out += p.substring(p.lastIndexOf('/') + 1)
    }
    out.toSet
  }
}

/** r17: commit `add` actions record per-file size + row count, so a
  * read PLANS FROM THE LOG — zero directory listings (the r16 verdict's
  * top ask: the old per-read `fs.listStatus` of the whole table dir was
  * an O(table-files) planning step at 100 TB that pruning couldn't
  * shrink). Pins: the zero-listing plan, the recorded meta's exactness,
  * legacy (pre-meta) log compatibility, and the explicit
  * `verifyListing` integrity mode. */
class LogPlannedScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def countingPath(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    "cfs://" + Files.createTempDirectory("graft-logplan").toString + "/t"
  }

  test("a cold plain-snapshot read plans AND runs with zero directory listings") {
    val path = countingPath()
    // checkpointInterval = 2 so the _last_checkpoint pointer exists and
    // cold resolution never lists the log dir either
    val t = VersionedTable(spark, path, checkpointInterval = 2)
    t.commitOverwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.commitAppend((101L to 200L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.commitAppend((201L to 300L).map(i => (i, s"v$i")).toDF("id", "v")) // v2 → checkpoint

    val cold = VersionedTable(spark, path, checkpointInterval = 2)
    CountingLocalFs.reset()
    assert(cold.read().count() == 300L)
    assert(CountingLocalFs.listed.isEmpty,
      s"expected ZERO listStatus calls for a log-planned read, got: " +
        s"${CountingLocalFs.listed}")
  }

  test("a stats-pruned read never lists the table dir (log-dir sidecar listing only)") {
    val path = countingPath()
    val t = VersionedTable(spark, path, checkpointInterval = 2)
    t.commitOverwrite((1L to 100L).map(i => (i, i * 2.0)).toDF("id", "x"))
    t.commitAppend((101L to 200L).map(i => (i, i * 2.0)).toDF("id", "x"))
    t.commitAppend((201L to 300L).map(i => (i, i * 2.0)).toDF("id", "x"))

    val cold = VersionedTable(spark, path, checkpointInterval = 2)
    CountingLocalFs.reset()
    assert(cold.readWhere(col("id") === 250L).count() == 1L)
    assert(CountingLocalFs.listingsOf("/t") == 0,
      s"stats pruning must not list the DATA dir: ${CountingLocalFs.listed}")
    // the sidecar discovery lists only the log dir — O(commits), never
    // O(data files)
    assert(CountingLocalFs.listed.iterator().hasNext ==
      CountingLocalFs.listingsOf("/t/_graft_log") > 0 ||
      CountingLocalFs.listed.isEmpty)
  }

  test("repeat filtered reads on an unchanged table re-list NOTHING (stats sidecar cache)") {
    val path = countingPath()
    val t = VersionedTable(spark, path, checkpointInterval = 2)
    t.commitOverwrite((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.commitAppend((101L to 200L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.commitAppend((201L to 300L).map(i => (i, i * 1.0)).toDF("id", "x"))
    val cold = VersionedTable(spark, path, checkpointInterval = 2)
    assert(cold.readWhere(col("id") === 42L).count() == 1) // warms the cache
    CountingLocalFs.reset()
    assert(cold.readWhere(col("id") === 142L).count() == 1)
    assert(cold.readWhere(col("id") === 242L).count() == 1)
    assert(CountingLocalFs.listed.isEmpty,
      s"repeat filtered reads must plan from the cached stats: " +
        s"${CountingLocalFs.listed}")
    // a new commit invalidates: the next filtered read sees fresh stats
    t.commitAppend(Seq((301L, 1.0)).toDF("id", "x"))
    assert(cold.readWhere(col("id") === 301L).count() == 1)
  }

  test("recorded file meta is exact: sizes match disk, rows match content, sizeInBytes sums") {
    val dir = Files.createTempDirectory("graft-logplan-meta").toString + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite((1L to 50L).map(i => (i, s"s$i")).toDF("id", "v"))
    t.commitAppend((51L to 80L).map(i => (i, s"s$i")).toDF("id", "v"))
    val meta = t.snapshotFileMeta()
    val files = t.snapshotDataFiles()
    assert(files.nonEmpty && files.forall(meta.contains),
      "every snapshot file must carry log-recorded meta")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach { f =>
      val onDisk = fs.getFileStatus(new Path(dir, f))
      assert(meta(f).size == onDisk.getLen, s"size mismatch for $f")
      assert(meta(f).rows >= 1, s"rows not recorded for $f")
    }
    assert(meta.values.map(_.rows).sum == 80L)
    // the index's sizeInBytes (AQE/broadcast planning input) is the
    // log-recorded sum
    val idx = new org.apache.spark.sql.graft.GraftFileIndex(spark, t, dir, None)
    assert(idx.sizeInBytes == files.map(meta(_).size).sum)
  }

  test("restore re-references files with their original meta (no size loss)") {
    val dir = Files.createTempDirectory("graft-logplan-restore").toString + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite((1L to 40L).map(i => (i, i)).toDF("id", "v")) // v0
    t.commitOverwrite((1L to 5L).map(i => (i, i)).toDF("id", "v"))  // v1
    t.restore(0)                                                    // v2
    val meta = t.snapshotFileMeta()
    val files = t.snapshotDataFiles()
    assert(files.forall(f => meta.get(f).exists(_.size > 0)))
    assert(meta.values.map(_.rows).filter(_ >= 0).sum == 40L)
  }

  test("legacy bare-name logs still resolve; the read falls back to one listing") {
    val path = countingPath()
    val t = VersionedTable(spark, path, checkpointInterval = 2)
    t.commitOverwrite((1L to 60L).map(i => (i, s"a$i")).toDF("id", "v"))
    t.commitAppend((61L to 90L).map(i => (i, s"a$i")).toDF("id", "v"))
    t.commitAppend((91L to 120L).map(i => (i, s"a$i")).toDF("id", "v"))

    // Rewrite the log IN PLACE to the pre-r17 format: object add
    // entries → bare names, checkpoint fmeta dropped — byte-for-byte
    // what an r16 writer produced.
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(path, "_graft_log")
    fs.listStatus(logDir).map(_.getPath)
      .filter(p => p.getName.endsWith(".json")).foreach { p =>
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        val legacy = body
          .replaceAll("""\{"path":("(?:[^"\\]|\\.)*)","size":-?\d+,"rows":-?\d+\}""", "$1\"")
          .replaceAll(""""fmeta":\[[^\]]*\],""", "")
        fs.delete(p, false)
        val out = fs.create(p, false)
        try out.write(legacy.getBytes("UTF-8")) finally out.close()
      }

    val cold = VersionedTable(spark, path, checkpointInterval = 2)
    assert(cold.snapshotFileMeta().isEmpty, "legacy log records carry no meta")
    CountingLocalFs.reset()
    assert(cold.read().count() == 120L)
    assert(CountingLocalFs.listingsOf("/t") >= 1,
      "legacy logs must fall back to the directory listing for statuses")
    // and the values are right (hash-level equivalence is the oracle's
    // job; row identity here)
    assert(cold.read().select("id").as[Long].collect().sorted.toSeq ==
      (1L to 120L))
  }

  test("a poll's two range walks read each commit record once") {
    val path = countingPath()
    val t = VersionedTable(spark, path)
    t.commitOverwrite(Seq((0L, "a")).toDF("id", "v"))
    (1L to 5L).foreach(i => t.commitAppend(Seq((i, "b")).toDF("id", "v")))
    val cold = VersionedTable(spark, path)
    CountingLocalFs.reset()
    assert(cold.changeTypesPossible(0, 5) == ((true, false)))
    assert(cold.changesBetween(0, 5).count() == 5L)
    (1 to 5).foreach { v =>
      val name = f"v$v%08d.json"
      val opens = CountingLocalFs.opened.toArray.count(_.toString.endsWith("/" + name))
      assert(opens == 1, s"$name opened $opens times")
    }
  }

  private def jobsDuring[T](body: => T): (T, Int) = graft.SparkCounts.jobsDuring(spark)(body)

  test("planning a change feed runs no Spark job and probes no data file: append, MoR delete, CoW rewrite") {
    val path = countingPath()
    val t = VersionedTable(spark, path)
    t.commitOverwrite((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))   // v0
    t.commitAppend((21L to 30L).map(i => (i, s"v$i")).toDF("id", "v"))   // v1
    assert(t.deleteMoR(col("id") <= 3L).contains(2))                      // v2
    assert(t.delete(col("id") === 25L).contains(3))                       // v3
    // a cold handle: the range's records are all it has read
    val cold = VersionedTable(spark, path)
    CountingLocalFs.reset()
    val (feed, jobs) = jobsDuring(cold.changesBetween(0, 3))
    // status probes and listings of data files while planning (the
    // deletion vectors themselves are decoded on the driver by design)
    val probes = (CountingLocalFs.probed.toArray ++ CountingLocalFs.listed.toArray)
      .map(_.toString).filter(p => p.endsWith(".parquet") && !p.contains("/dv-"))
    assert(jobs == 0, s"building the change feed ran $jobs Spark job(s)")
    assert(probes.isEmpty, s"data files probed while planning: ${probes.toSeq}")
    val rows = feed.select("id", "_change_type").as[(Long, String)].collect().sorted.toSeq
    assert(rows == ((21L to 30L).map(i => (i, "insert")) ++
      Seq((1L, "delete"), (2L, "delete"), (3L, "delete"), (25L, "delete"))).sorted)
  }

  test("a change feed across addColumn and renameColumn reads old files under each commit's schema") {
    val dir = Files.createTempDirectory("graft-logplan-evolve").toString + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // v0
    t.addColumn("x", org.apache.spark.sql.types.IntegerType)             // v1
    t.commitAppend(Seq((3L, "c", 7)).toDF("id", "v", "x"))               // v2
    t.renameColumn("v", "w")                                             // v3
    t.commitAppend(Seq((4L, "d", 8)).toDF("id", "w", "x"))               // v4
    assert(t.deleteMoR(col("id") === 1L).contains(5))                    // v5: pre-change file
    assert(t.update(col("id") === 2L, Map("x" -> lit(5))).contains(6))   // v6: CoW rewrite of it
    val cold = VersionedTable(spark, dir)
    val (feed, jobs) = jobsDuring(cold.changesBetween(-1, 6))
    assert(jobs == 0, s"building the change feed ran $jobs Spark job(s)")
    def at(v: Int, cols: String*): Seq[Seq[Any]] =
      feed.filter(col("_commit_version") === v)
        .select((cols :+ "_change_type").map(col): _*)
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(at(0, "id", "v") == Seq(Seq(1L, "a", "insert"), Seq(2L, "b", "insert")))
    assert(at(2, "id", "v", "x") == Seq(Seq(3L, "c", 7, "insert")))
    assert(at(4, "id", "w", "x") == Seq(Seq(4L, "d", 8, "insert")))
    // rows of files written before both changes: the added column reads
    // null, the renamed one under its new name
    assert(at(5, "id", "w", "x") == Seq(Seq(1L, "a", null, "delete")))
    assert(at(6, "id", "w", "x").toSet ==
      Set(Seq(2L, "b", null, "delete"), Seq(2L, "b", 5, "insert")))
  }

  test("verifyListing integrity mode catches a missing snapshot file at plan time") {
    val dir = Files.createTempDirectory("graft-logplan-verify").toString + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite((1L to 30L).map(i => (i, i)).toDF("id", "v"))
    val victim = t.snapshotDataFiles().head
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, victim), false)
    // default mode: the plan builds from the log (no listing), the scan
    // fails later at read time — integrity mode moves the failure to
    // planning with the file named
    spark.conf.set("spark.graft.lake.verifyListing", "true")
    try {
      val e = intercept[RuntimeException] {
        new org.apache.spark.sql.graft.GraftFileIndex(spark, t, dir, None)
      }
      assert(e.getMessage.contains("missing on disk"))
    } finally spark.conf.unset("spark.graft.lake.verifyListing")
  }
}
