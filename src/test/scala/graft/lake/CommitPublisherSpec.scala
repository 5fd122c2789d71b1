package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A FilterFileSystem over the local FS registered under its own
  * `mockobj:` scheme — stands in for an object store WITHOUT atomic
  * rename-if-absent (it is neither `file:` nor RawLocalFileSystem-backed
  * in the dispatch's eyes, and its scheme isn't HDFS-like). Top-level:
  * Hadoop instantiates by reflection. */
class MockInnerLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockobj:///")
  override def checkPath(path: Path): Unit = () // accept mockobj: paths
}

class MockObjectStoreFs
    extends org.apache.hadoop.fs.FilterFileSystem(new MockInnerLocalFs) {
  override def getUri: java.net.URI = java.net.URI.create("mockobj:///")
}

/** A publish arbiter that records every call — the external-arbiter plug
  * point (Delta's LogStore shape). Delegates to rename-if-absent, which
  * IS safe here (the test runs on a local disk); a real S3 publisher
  * would arbitrate through a conditional put. */
class RecordingPublisher extends VersionedTable.CommitPublisher {
  override def publishIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    RecordingPublisher.calls.incrementAndGet()
    !fs.exists(dst) && fs.rename(tmp, dst)
  }
}
object RecordingPublisher {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** r18: the commit protocol NAMES its storage contract. Local FS keeps
  * the hard-link/claim protocol; HDFS-like schemes ride their atomic
  * rename-refuses-existing contract; anything else must either plug a
  * [[VersionedTable.CommitPublisher]] or explicitly accept single-writer
  * mode — silently running the optimistic protocol on a store that
  * can't arbitrate it is how two writers both "win" a version. */
class CommitPublisherSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    s
  }
  import spark.implicits._

  private def mockPath(): String =
    "mockobj://" + Files.createTempDirectory("graft-pub").toString + "/t"

  test("a scheme without atomic rename-if-absent fails LOUDLY at the first commit") {
    val t = VersionedTable(spark, mockPath())
    val e = intercept[RuntimeException](
      t.commitOverwrite(Seq((1L, "a")).toDF("id", "v")))
    assert(e.getMessage.contains("commitPublisher"), e.getMessage)
    assert(e.getMessage.contains("mockobj"), e.getMessage)
  }

  test("unsafeSingleWriterPublish opts a single-writer deployment back in") {
    spark.conf.set("spark.graft.lake.unsafeSingleWriterPublish", "true")
    try {
      val t = VersionedTable(spark, mockPath())
      t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      t.commitAppend(Seq((3L, "c")).toDF("id", "v"))
      assert(t.read().count() == 3)
      assert(t.versions() == Seq(0, 1))
    } finally spark.conf.unset("spark.graft.lake.unsafeSingleWriterPublish")
  }

  test("a configured CommitPublisher arbitrates every commit record publish") {
    spark.conf.set("spark.graft.lake.commitPublisher",
      classOf[RecordingPublisher].getName)
    try {
      val t = VersionedTable(spark, mockPath())
      RecordingPublisher.calls.set(0)
      t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
      t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
      assert(t.read().count() == 2)
      assert(RecordingPublisher.calls.get() >= 2,
        s"expected the publisher to arbitrate both commits, " +
          s"saw ${RecordingPublisher.calls.get()} calls")
      // conflict semantics hold THROUGH the publisher: racing the same
      // version loses cleanly (returns false, nothing published)
      val reopened = VersionedTable(spark, t.tablePath)
      assert(reopened.versions() == Seq(0, 1))
    } finally spark.conf.unset("spark.graft.lake.commitPublisher")
  }

  test("local filesystems never require configuration (hard-link protocol)") {
    val t = VersionedTable(spark,
      Files.createTempDirectory("graft-pub-local").toString + "/t")
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    assert(t.read().count() == 1)
  }

  // ---- r19: the reference conditional-put publisher ---------------------

  private def mosSpark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.mos.impl", classOf[MockS3Fs].getName)
    s
  }

  test("r19: conditional-put publisher commits on the mock object store; racers lose cleanly") {
    val s = mosSpark
    s.conf.set("spark.graft.lake.commitPublisher",
      classOf[ConditionalPutCommitPublisher].getName)
    try {
      val t = VersionedTable(s, "mos://" +
        Files.createTempDirectory("graft-cput").toString + "/t")
      t.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      t.commitAppend(Seq((3L, "c")).toDF("id", "v"))
      assert(t.read().count() == 3 && t.versions() == Seq(0, 1))
      // 8 threads racing appends through the arbiter: ledger stays
      // linear — every accepted commit a unique version, no lost rows
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      import s.implicits._
      val futs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            val h = VersionedTable(s, t.tablePath)
            var done = 0; var attempts = 0
            while (done < 3 && attempts < 200) {
              try { h.commitAppend(Seq((100L + i * 10 + done, s"w$i")).toDF("id", "v")); done += 1 }
              catch { case e: RuntimeException
                  if String.valueOf(e.getMessage).contains("conflict") =>
                attempts += 1; Thread.sleep(5) }
            }
            done
          }
        })
      }
      val committed = futs.map(_.get()).sum
      pool.shutdown()
      assert(committed == 24, s"only $committed of 24 racing appends landed")
      val reopened = VersionedTable(s, t.tablePath)
      assert(reopened.versions() == (0 to 25).toSeq,
        s"ledger forked or gapped: ${reopened.versions()}")
      assert(reopened.read().count() == 3 + 24)
      // no arbiter litter after clean resolution
      val fs = new Path(t.tablePath).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val leftover = fs.listStatus(new Path(t.tablePath, "_graft_log"))
        .map(_.getPath.getName).filter(_.startsWith(".arbiter-"))
      assert(leftover.isEmpty, s"arbiter entries left: ${leftover.toSeq}")
    } finally s.conf.unset("spark.graft.lake.commitPublisher")
  }

  test("r19: a crashed arbitration winner's commit is COMPLETED by the next writer") {
    val s = mosSpark
    s.conf.set("spark.graft.lake.commitPublisher",
      classOf[ConditionalPutCommitPublisher].getName)
    try {
      val dir = Files.createTempDirectory("graft-cput-crash").toString + "/t"
      val t = VersionedTable(s, "mos://" + dir)
      t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
      // simulate the crash window BY HAND: a winner that wrote its tmp
      // record and arbiter entry for v1, then died before the copy
      val fs = new Path(t.tablePath).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val logDir = new Path(t.tablePath, "_graft_log")
      val v1 = new Path(logDir, "v00000001.json")
      val tmp = new Path(logDir, ".tmp-v1-crashed.json")
      val rec = ("""{"version":1,"action":"append","rows":2,"ts":1,""" +
        """"add":[],"remove":[],""" +
        """"schema":"id BIGINT,v STRING"}""").getBytes("UTF-8")
      val out = fs.create(tmp, false); out.write(rec); out.close()
      val entry = new Path(logDir, ".arbiter-v00000001.json")
      val eo = fs.create(entry, false)
      eo.write((s"""{"tmp":"$tmp","owner":"0@dead","ts":1}""").getBytes("UTF-8"))
      eo.close()
      // the next writer loses the v1 race to the dead winner, COMPLETES
      // its publish, then lands its own append at v2 through the
      // built-in rebase retry — one call, no client-visible conflict
      val h = VersionedTable(s, t.tablePath)
      h.commitAppend(Seq((9L, "z")).toDF("id", "v"))
      assert(fs.exists(v1), "crashed winner's record was not completed")
      assert(!fs.exists(entry), "arbiter entry not cleaned after completion")
      val reopened = VersionedTable(s, t.tablePath)
      assert(reopened.versions() == Seq(0, 1, 2))
      assert(reopened.history()(1) == ((1, "append", 2L, 1)))
      assert(reopened.history()(2)._2 == "append")
    } finally s.conf.unset("spark.graft.lake.commitPublisher")
  }

  test("a put that lands after an earlier winner published and released its entry loses") {
    val s = mosSpark
    val dir = "mos://" + Files.createTempDirectory("graft-cput-late").toString
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    def write(p: Path, body: String): Unit = {
      val out = fs.create(p, false); out.write(body.getBytes("UTF-8")); out.close()
    }
    val dst = new Path(dir, "v00000001.json")
    val (tmpA, tmpB) = (new Path(dir, ".tmp-a.json"), new Path(dir, ".tmp-b.json"))
    write(tmpA, "A"); write(tmpB, "B")
    // writer A runs its whole publish between B's exists probe and B's put
    val late = new ConditionalPutCommitPublisher {
      override protected def putEntryIfAbsent(fs: FileSystem, entry: Path,
                                              body: String): Boolean = {
        assert(new ConditionalPutCommitPublisher().publishIfAbsent(fs, tmpA, dst))
        super.putEntryIfAbsent(fs, entry, body)
      }
    }
    assert(!late.publishIfAbsent(fs, tmpB, dst), "both writers won the same version")
    val in = fs.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "A") finally in.close()
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith(".arbiter-")))
  }
}
