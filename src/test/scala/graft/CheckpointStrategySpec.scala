package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-durability switch: the same checkpointed query must
  * produce identical results whether lineage cuts go through
  * localCheckpoint (default, bench parity) or a reliable checkpoint
  * directory (the 100-TB deployment form). q_kl_source is the probe —
  * its term table is cut() and read by three downstream consumers.
  */
class CheckpointStrategySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Connected components of a small graph (a chain, a triangle, a
    * pair) on the union-find path and, with `localThreshold = 0`, on the
    * distributed label-propagation path: both materialize their input
    * through `CheckpointStrategy.cutRows`. */
  private def components(): Seq[Seq[(Long, Long)]] = {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (8L, 9L), (9L, 7L), (20L, 21L))
      .toDF("id1", "id2")
    Seq(1000000L, 0L).map { t =>
      llm.Dedup.connectedComponents(pairs, localThreshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
  }

  test("reliable-dir strategy produces the same result as local, and actually checkpoints") {
    val fn = SparkEntry.queries("q_kl_source")
    val local = fn(spark, sf).collect().map(_.toSeq)
    val localComponents = components()
    assert(localComponents.forall(_ == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L)), localComponents)

    val dir = Files.createTempDirectory("graft-reliable-ckpt").toString
    System.setProperty("graft.checkpoint.dir", dir)
    try {
      assert(CheckpointStrategy.reliableDir.contains(dir))
      val reliable = fn(spark, sf).collect().map(_.toSeq)
      assert(reliable.toSeq == local.toSeq)
      assert(components() == localComponents)
      // the reliable path must have written real checkpoint state
      def fileCount(d: java.io.File): Int =
        if (d.isDirectory) d.listFiles().map(fileCount).sum else 1
      assert(fileCount(new java.io.File(dir)) > 0,
        "reliable strategy left no files in the checkpoint dir")
    } finally {
      System.clearProperty("graft.checkpoint.dir")
    }
    // back on default: local mode again, no property leakage
    assert(CheckpointStrategy.reliableDir.isEmpty)
    val again = fn(spark, sf).collect().map(_.toSeq)
    assert(again.toSeq == local.toSeq)
  }
}
