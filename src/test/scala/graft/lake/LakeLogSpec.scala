package graft.lake

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import LakeLog.Commit
import VersionedTable.FileMeta

/** The transaction log on its own: a Hadoop FileSystem and a temp dir,
  * no SparkSession. Commit records carry made-up file names — the log
  * never opens data files when their meta is already known. */
class LakeLogSpec extends AnyFunSuite {
  private val local = FileSystem.getLocal(new Configuration())

  private def tableDir(): String = Files.createTempDirectory("graft-log").toString + "/t"

  private def open(fs: FileSystem, path: String, interval: Int = 10) =
    new LakeLog(fs, path, interval, LakeLog.PublishSettings(None, unsafeSingleWriter = false))

  /** Commit `name` on top of the head as version `v` (its meta known, so
    * the record needs no status probe). */
  private def append(log: LakeLog, v: Int, name: String): Unit = {
    log.fileMetaIndex.put(name, FileMeta(100L, 1L))
    val prev = if (v == 0) Nil else log.readCommit(v - 1).files
    log.writeCommit(Commit(v, "append", prev :+ name, "id BIGINT", v + 1L, v.toLong))
  }

  private def logEntries(path: String): Seq[String] =
    local.listStatus(new Path(s"$path/_graft_log")).map(_.getPath.getName).toSeq

  test("commit, resolve, checkpoint every interval; a cold handle reaches the head through the pointer") {
    val conf = new Configuration()
    conf.set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val path = "cfs://" + tableDir()
    val fs = new Path(path).getFileSystem(conf)
    val log = open(fs, path, interval = 5)
    (0 to 12).foreach(v => append(log, v, s"f$v.parquet"))
    assert(log.versions() == (0 to 12))
    assert(log.checkpointVersions() == Seq(5, 10))
    assert(log.resolveSnap(12).files == (0 to 12).map(v => s"f$v.parquet"))
    assert(log.readCommit(7).files == (0 to 7).map(v => s"f$v.parquet"))
    val logDir = new Path(path).toUri.getPath + "/_graft_log"
    CountingLocalFs.reset()
    val cold = open(fs, path, interval = 5)
    assert(cold.latestVersion().contains(12))
    assert(cold.pointerServes(12) && cold.resolutionCost(12) == ((Some(10), 2)))
    assert(cold.resolveSnap(12).files == (0 to 12).map(v => s"f$v.parquet"))
    assert(cold.resolveSnap(12).meta.keySet == (0 to 12).map(v => s"f$v.parquet").toSet)
    assert(CountingLocalFs.listingsOf(logDir) == 0,
      s"the pointer path listed the log: ${CountingLocalFs.listed}")
    assert(LakeLogSpec.checkpointsVsReplay(fs, path) == ((Seq(5, 10), Nil)))
  }

  test("the vacuum horizon only moves up, and reads below it fail naming it") {
    val path = tableDir()
    val log = open(local, path)
    append(log, 0, "a.parquet")
    assert(log.vacuumHorizon() == -1)
    log.writeVacuumHorizon(5)
    log.writeVacuumHorizon(3)
    assert(log.vacuumHorizon() == 5)
    log.writeVacuumHorizon(7)
    assert(open(local, path).vacuumHorizon() == 7)
    log.checkVacuumHorizon(7, "time travel to")
    val e = intercept[RuntimeException](log.checkVacuumHorizon(6, "time travel to"))
    assert(e.getMessage.contains("below the vacuum horizon v7"), e.getMessage)
    assert(!logEntries(path).exists(_.contains(".tmp-")), logEntries(path))
  }

  test("a sidecar that lands before its record is seen once the record is; one listing serves both kinds") {
    val conf = new Configuration()
    conf.set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val path = "cfs://" + tableDir()
    val fs = new Path(path).getFileSystem(conf)
    // interval 1: the pointer answers the head, so only sidecar
    // discovery lists the log
    val log = open(fs, path, interval = 1)
    append(log, 0, "a.parquet")
    assert(log.stats.all().isEmpty && log.blooms.paths().isEmpty)
    val st = FileStats.ColStats("num", Some("1"), Some("9"), 0L, 3L)
    log.stats.write(1, "0a1b2c3d", Seq(LogCodec.encodeStatsLine("b.parquet", "id", st)))
    log.blooms.write(1, "0a1b2c3d", Seq(LogCodec.encodeBloomLine("b.parquet", "id", "AAAA")))
    append(log, 1, "b.parquet")
    val logDir = new Path(path).toUri.getPath + "/_graft_log"
    CountingLocalFs.reset()
    assert(log.stats.all() == Map("b.parquet" -> Map("id" -> st)))
    assert(log.blooms.paths().map(_.getName) == Seq("v00000001-0a1b2c3d-bloom.jsonl"))
    assert(log.blooms.all().keySet == Set("b.parquet"))
    assert(CountingLocalFs.listingsOf(logDir) == 1,
      s"expected one log listing for the new head: ${CountingLocalFs.listed}")
    // a repeat read at the same head lists nothing
    CountingLocalFs.reset()
    assert(log.stats.all().keySet == Set("b.parquet"))
    assert(CountingLocalFs.listingsOf(logDir) == 0)
  }

  test("8 handles publishing the same version for 50 rounds: one winner each, losers conflict, no temp left") {
    val path = tableDir()
    val n = 8
    val rounds = 50
    append(open(local, path), 0, "base.parquet")
    val logs = (0 until n).map(_ => open(local, path))
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Either[Throwable, Unit]]()
    val threads = (0 until n).map { i =>
      val th = new Thread(() => (1 to rounds).foreach { r =>
        barrier.await()
        outcomes.put((r, i),
          try Right(append(logs(i), r, s"w$i-r$r.parquet"))
          catch { case e: Throwable => Left(e) })
      })
      th.start(); th
    }
    threads.foreach(_.join(300000))
    (1 to rounds).foreach { r =>
      val got = (0 until n).map(i => outcomes.get((r, i)))
      assert(got.count(o => o != null && o.isRight) == 1, s"round $r: $got")
      got.collect { case Left(e) => e }.foreach { e =>
        assert(e.isInstanceOf[RuntimeException] &&
          String.valueOf(e.getMessage).contains("concurrent commit conflict"),
          s"round $r: a loser failed with $e")
      }
    }
    val cold = open(local, path)
    assert(cold.versions() == (0 to rounds))
    assert(cold.resolveSnap(rounds).files.size == rounds + 1)
    assert(!logEntries(path).exists(_.contains(".tmp-")),
      logEntries(path).filter(_.contains(".tmp-")))
    assert(LakeLogSpec.checkpointsVsReplay(local, path) == (((10 to rounds by 10), Nil)))
  }
}

object LakeLogSpec {
  /** Every checkpoint of the table at `tablePath` against a cold replay
    * of commit records 0..v: (checkpoint versions, the versions whose
    * checkpoint file list differs from the replay). */
  def checkpointsVsReplay(fs: FileSystem, tablePath: String): (Seq[Int], Seq[Int]) = {
    val log = new LakeLog(fs, tablePath, 10, LakeLog.PublishSettings(None, unsafeSingleWriter = false))
    val checkpoints = log.checkpointVersions()
    (checkpoints, checkpoints.filter { v =>
      val p = new Path(s"$tablePath/_graft_log", f"checkpoint-v$v%08d.json")
      val in = fs.open(p)
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val replayed = (0 to v).foldLeft(Seq.empty[String]) { (files, i) =>
        val d = log.record(i)
        if (d.full) d.add else files.filterNot(d.remove.toSet) ++ d.add
      }
      LogCodec.decodeCheckpoint(body, p)._1.sorted != replayed.sorted
    })
  }
}
