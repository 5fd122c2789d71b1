package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver fixture tables (`TESTDATA.md`).
  *
  * Centralizes the one genuinely tricky read: `events.parquet`'s `ts`
  * column has shipped in two physical forms across fixture generations —
  * parquet TIMESTAMP(NANOS) (rounds 1-8), which Spark's vectorized
  * reader rejects unless `spark.sql.legacy.parquet.nanosAsLong` maps it
  * to a raw long, and plain microsecond TIMESTAMP(isAdjustedToUTC=false)
  * (round 9+), which Spark reads natively as TIMESTAMP_NTZ. [[events]]
  * dispatches on the resolved read schema and normalizes BOTH to the
  * same session-zone `TimestampType` wall-clock (UTC session), so every
  * downstream query and the DuckDB oracle see identical values
  * regardless of which generation wrote the file.
  *
  * At 100 TB these readers are where partition pruning / pushdown begin:
  * they return a bare scan, so every downstream filter/projection reaches
  * the parquet reader (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  // Memoized per (session, path): repeated queries over the same fixture
  // reuse one resolved relation, so file listing + schema resolution
  // happen once per session instead of once per query (measurable in
  // Bench, where 63 queries would otherwise re-list every scan).
  // DataFrames are immutable plans — sharing them is safe.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      { case (s, p) => s.read.parquet(p) })

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts` normalized to session-zone `TimestampType`,
    * whatever the fixture generation wrote:
    *  - raw nanosecond long (TIMESTAMP(NANOS) under the legacy conf):
    *    integer-divide to micros (truncation toward zero == floor for the
    *    post-1970 fixture data — the same truncation DuckDB applies
    *    casting TIMESTAMP_NS to TIMESTAMP);
    *  - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false): reinterpret the
    *    wall-clock in the session zone (UTC) — a value-preserving cast;
    *  - already TimestampType: pass through.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val key = (spark, s"$sfDir/events.parquet#converted")
    val cached = cache.get(key)
    if (cached != null) cached
    else {
      // Built OUTSIDE computeIfAbsent: the inner table() also touches
      // this map, and nested computeIfAbsent on one ConcurrentHashMap
      // throws "Recursive update" whenever the two keys land in the
      // same bin (nondeterministic — it appeared only after unrelated
      // cache keys shifted the table layout). putIfAbsent keeps the
      // memoization race-safe; losers just drop their duplicate plan.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = table(spark, sfDir, "events")
      val df = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
      cache.putIfAbsent(key, df)
      cache.get(key)
    }
  }

  /** Shuffle-partition count for a keyed stateful stream (r20).
    *
    * Each state-store partition pays fixed cost per micro-batch (store
    * load + delta write + fsync), so a keyed streaming aggregate wants
    * its state partitions sized to the aggregate's KEY CARDINALITY, not
    * the session's data-parallel shuffle width — 32 near-empty stores
    * per batch is the anti-pattern at any cluster size. Callers pass the
    * observed key cardinality of the stream's initial data — free when
    * collected via `Dataset.observe` on the seed commit's own write (an
    * approx-distinct as a separate job measured ~0.2 s of pure fixed
    * overhead) — capped by the session's shuffle parallelism;
    * `spark.graft.stream.statePartitions` overrides for production
    * tuning (the by-name param keeps the override path job-free).
    */
  def statePartitions(s: SparkSession, distinctKeys: => Long): Int =
    s.conf.getOption("spark.graft.stream.statePartitions")
      .map { raw =>
        val n = raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"spark.graft.stream.statePartitions must be an integer, got '$raw'"))
        require(n > 0, s"spark.graft.stream.statePartitions must be positive, got '$raw'")
        n
      }
      .getOrElse(math.max(1L, math.min(distinctKeys,
        s.sessionState.conf.numShufflePartitions.toLong)).toInt)

  /** Conditional scan-parallelism widener (r19, guide §2.5 "one huge
    * unsplittable file": repartition immediately after the read).
    *
    * The driver fixtures are single-file single-row-group parquet, so a
    * bare scan plans ONE input task no matter the core count — and every
    * CPU-heavy per-row pipeline above it (shingling, per-replicate
    * hashing, token explosion) runs single-threaded while 31 cores
    * idle. This helper repartitions the scan output by the key the
    * downstream aggregation groups on, into exactly
    * `spark.sql.shuffle.partitions` partitions, so the added exchange
    * REPLACES the aggregation's own exchange (hashpartitioning(key, n)
    * satisfies the groupBy's ClusteredDistribution — same shuffle
    * count, 32× the compute width).
    *
    * Scale posture: fires ONLY when the scan's natural split count is
    * below the session's parallelism — on a real table (many files /
    * row groups ≫ cores) it is the identity and the corpus payload is
    * never shuffled pre-aggregation. The decision reads the planned
    * partition count of the BARE scan (cheap; callers pass base-table
    * frames, never joined plans — `df.rdd` on a join would execute its
    * broadcast side).
    */
  def widen(df: DataFrame, key: org.apache.spark.sql.Column*): DataFrame = {
    val spark = df.sparkSession
    if (df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism) df
    else {
      val n = spark.sessionState.conf.numShufflePartitions
      if (key.isEmpty) df.repartition(n) else df.repartition(n, key: _*)
    }
  }
}
