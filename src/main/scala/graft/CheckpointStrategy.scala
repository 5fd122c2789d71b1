package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** One switch for every lineage-cut / reuse-materialization point in
  * the engine (the r9 verdict's cluster-durability item).
  *
  * The engine cuts lineage wherever a mid-query result feeds multiple
  * downstream consumers (both sides of a self-join, per-iteration
  * graph state, corpus stats reused across stages). On `local[n]` the
  * right tool is `localCheckpoint()`: executor-local blocks, no I/O to
  * a reliable store, and the whole JVM is a single failure domain
  * anyway. On a REAL cluster the truncated lineage makes those blocks
  * unrecoverable — lose one executor mid-query and the query dies with
  * no way to recompute. The scale-ready form is a reliable checkpoint
  * into a durable directory (HDFS/object store, typically under the
  * warehouse root).
  *
  * Strategy resolution (once per call, so a test can flip it):
  *  - `graft.checkpoint.dir` system property, or `GRAFT_CHECKPOINT_DIR`
  *    env var, set to a path → RELIABLE: `SparkContext.setCheckpointDir`
  *    there and `df.checkpoint()` (eager, like localCheckpoint).
  *  - unset (the default, and what Bench/Verify run with) → LOCAL:
  *    `df.localCheckpoint()` — bench parity with rounds 1-9.
  *
  * Every former `.localCheckpoint()` reuse point in query code now
  * routes through [[cut]], so a cluster deployment flips ONE setting
  * rather than auditing 35 call sites.
  */
object CheckpointStrategy {
  /** Reliable-checkpoint directory, if configured. */
  def reliableDir: Option[String] =
    sys.props.get("graft.checkpoint.dir")
      .orElse(sys.env.get("GRAFT_CHECKPOINT_DIR"))
      .filter(_.nonEmpty)

  // setCheckpointDir stores a qualified path + per-call random UUID
  // subdirectory, so sc.getCheckpointDir never equals the raw configured
  // string — remember what we configured per SparkContext ourselves, or
  // every cut() in an iterative query would mint a fresh UUID directory
  // (per-cut metadata RPCs + unbounded sprawl on an object store).
  private val configured =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, String]()

  /** Materialize `df` for multi-consumer reuse and cut its lineage,
    * via the configured strategy. Eager in both modes. */
  def cut(df: DataFrame): DataFrame = reliableDir match {
    case Some(dir) =>
      useDir(df.sparkSession.sparkContext, dir)
      df.checkpoint()
    case None => df.localCheckpoint()
  }

  /** [[cut]] for a caller that needs the row count and then one pass
    * over the rows: ONE job materializes and counts them (a `cut()`
    * then `count()` is two jobs, and the count's aggregate compiles two
    * whole-stage classes of its own), and the rows come back as the
    * materialized `RDD[InternalRow]`, so the pass needs no encoder. Wrap
    * them with `GraftColumnBridge.ofInternalRows` to query them again. */
  def cutRows(df: DataFrame): (RDD[InternalRow], Long) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
    reliableDir match {
      case Some(dir) =>
        useDir(df.sparkSession.sparkContext, dir)
        // persisted, so the checkpoint write after the count re-reads
        // the blocks instead of recomputing the plan
        rows.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      case None => rows.localCheckpoint()
    }
    (rows, rows.count())
  }

  // compute() runs setCheckpointDir INSIDE the per-key lock, so a
  // concurrent first cut() can never observe the map entry before the
  // dir is actually set (put-before-set race), and a changed
  // configuration re-applies exactly once.
  private def useDir(sc: org.apache.spark.SparkContext, dir: String): Unit = {
    configured.compute(sc, (_, prev) => {
      if (prev != dir) sc.setCheckpointDir(dir)
      dir
    })
    ()
  }

  /** `df.cut()` sugar so call sites read like the old
    * `.localCheckpoint()` chain. Import `CheckpointStrategy.Ops._`
    * (package-external callers) — files in package `graft` and its
    * subpackages import it explicitly. */
  object Ops {
    implicit final class CutOps(private val df: DataFrame) extends AnyVal {
      def cut(): DataFrame = CheckpointStrategy.cut(df)
    }
  }
}
