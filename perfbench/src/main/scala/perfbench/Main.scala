package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload over the seeded inputs in
  * `dataDir` and writes a raw run record (ops, spans, listener events,
  * set-up times, checks) as JSON. `perfbench/run.py` makes the inputs,
  * builds and starts this, turns the record into metrics and prints the
  * result line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <record.json>
  */
object Main {
  /** Passes the window always measures, so the reported median rests on
    * at least this many samples. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, out) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val canaryPre = canarySec()
    val wideCanaryPre = canaryWideSec(cores)
    val sessionT0 = System.nanoTime()
    val spark = session(workDir, cores)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9

    val rec = new Recorder(spark)
    val w = Workload(workload, spark, rec)
    val loadT0 = System.nanoTime()
    w.prepare(dataDir)
    val loadS = (System.nanoTime() - loadT0) / 1e9
    val checkDir = s"$workDir/check"
    val warmT0 = System.nanoTime()
    rec.beginPass(-1)
    w.warmup()
    val warmupS = (System.nanoTime() - warmT0) / 1e9

    val gc0 = gcTotals(); val jit0 = jitMs()
    if (trace) rec.startTracing()
    val firstOp = rec.ops.size
    val t0 = System.nanoTime()
    var passes = Vector.empty[Double]
    var passJit = Vector.empty[Long]
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val jit = jitMs()
      passes :+= timedPass(rec, w, passes.size)
      passJit :+= jitMs() - jit
    }
    rec.beginPass(-3)
    w.finish()
    rec.stopTracing()
    val gc1 = gcTotals(); val jit1 = jitMs()
    // A traced run times one more pass right after the traced window with
    // tracing off, so the overhead of the listeners and spans is known: it
    // is compared with the last traced pass, its neighbour, so JIT warm-up
    // still under way does not pass for tracing overhead.
    val lastOp = rec.ops.size
    val untracedPassS = if (trace) Some(timedPass(rec, w, -2)) else None

    val verifyErrors = w.verify(checkDir)
    // full GCs with pauses between, so Spark's cleaner thread can drop
    // the blocks of broadcasts and shuffles that became unreachable
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val canaryPost = canarySec()
    val wideCanaryPost = canaryWideSec(cores)

    val ops = rec.ops.slice(firstOp, lastOp)
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "session_s" -> sessionS, "load_s" -> loadS,
      "warmup_s" -> warmupS, "pass_s" -> passes, "untraced_pass_s" -> untracedPassS,
      "retained_heap_mb" -> heapMb, "gc_ms" -> (gc1._2 - gc0._2), "gc_count" -> (gc1._1 - gc0._1),
      "jit_ms" -> (jit1 - jit0), "pass_jit_ms" -> passJit, "canary_s" -> Seq(canaryPre, canaryPost),
      "canary_wide_s" -> Seq(wideCanaryPre, wideCanaryPost),
      "check_dir" -> checkDir, "verify_errors" -> verifyErrors,
      "untimed_failed" -> (rec.ops.take(firstOp) ++ rec.ops.drop(lastOp)).count(!_.ok),
      "ops" -> ops.map(o => Seq(o.id, o.pass, o.kind, o.name, o.start, o.end, o.ok, o.err, o.value)),
      "warmup_op_ms" -> rec.ops.take(firstOp).map(o => Seq(o.name, o.end - o.start)),
      "spans" -> rec.spans.map(s => Seq(s.id, s.name, s.start, s.end, s.parent, s.op)),
      "jobs" -> rec.listener.jobs.map(j => Seq(j._1, j._2, j._3, j._4)),
      "op_metrics" -> rec.listener.perOp.map { case (k, v) => k.toString -> v.toSeq },
      "phases" -> rec.qeListener.phases.map(p => Seq(p._1, p._2, p._3)),
      "executions" -> rec.qeListener.executions,
      "facts" -> w.facts)
    Files.writeString(Paths.get(out), Json(record))
    spark.stop()
  }

  /** The session every run uses: local[cores], one shuffle partition per
    * core, the graft extensions and no `spark.graft.*` key. */
  def session(workDir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$workDir/checkpoints")
    spark
  }

  private def timedPass(rec: Recorder, w: Workload, p: Int): Double = {
    w.beforePass()
    rec.beginPass(p)
    val t0 = System.nanoTime()
    w.pass(p)
    (System.nanoTime() - t0) / 1e9
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Fixed single-thread CPU work (xorshift), min of three: a host-noise
    * reading for the run record, not a metric. */
  private def canarySec(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spin()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** The same work on one thread per core at once, min of two: sees
    * CPU steal and oversubscription that the single-thread canary misses. */
  private def canaryWideSec(cores: Int): Double = (1 to 2).map { _ =>
    val threads = (1 to cores).map(_ => new Thread(() => spin()))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min

  private def spin(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) System.err.println("")
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
