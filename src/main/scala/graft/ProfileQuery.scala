package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Measurement tool (guide §1): per-query timing, per-JOB time
  * attribution and the formatted physical plan —
  * `runMain graft.ProfileQuery <sfDir> <query>[,<query>...]`.
  *
  * Each query runs twice. The first (cold) run pays planning, codegen
  * and first-touch I/O; the second (warm) run is profiled. Their gap
  * separates the fixed overhead from the data-path cost, because a
  * single `count()` timing hides it.
  *
  * The lake lifecycle queries (commit → stats → rewrite → read) are
  * many small Spark jobs; the bench's per-query wall number can't say
  * which job carries the time. A listener records every job's wall
  * span, task-time sum, and shuffle bytes; the report prints jobs in
  * submission order with the gaps (driver-side work between jobs —
  * planning, footer reads, renames, checkpoint writes) made explicit,
  * because at commit-heavy shapes the DRIVER gaps are often the cost.
  *
  * Beside each run's time it prints the generated classes that run
  * compiled (Spark's codegen compilation count): the cold run's count
  * is the query's plan bodies, and a warm run that still compiles
  * classes re-plans a shape per run or overflows Spark's code cache.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // INT64-micros timestamps (r19): footer-statable (INT96 carries no
      // usable stats) and 8 bytes instead of 12; value-identical reads
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, desc: String, t0: Long, var t1: Long = 0L,
                         var tasks: Int = 0, var taskMs: Long = 0L,
                         var shufR: Long = 0L, var shufW: Long = 0L,
                         var input: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, d, e.time)); order.add(e.jobId)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.get(e.stageId)
        val j = if (jid != null) jobs.get(jid) else null
        val m = e.taskMetrics
        if (j != null && m != null) j.synchronized {
          j.tasks += 1
          j.taskMs += m.executorRunTime
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.input += m.inputMetrics.bytesRead
        }
      }
    })

    val all = SparkEntry.queries
    def compiled(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { n =>
      require(all.contains(n), s"unknown query $n")
      val c0 = compiled()
      val t0Cold = System.nanoTime()
      all(n)(spark, sfDir).count()
      val cold = (System.nanoTime() - t0Cold) / 1e9
      val coldClasses = compiled() - c0
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      jobs.clear(); stageToJob.clear(); order.clear()
      val c1 = compiled()
      val t0 = System.nanoTime()
      val df = all(n)(spark, sfDir)
      df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val warmClasses = compiled() - c1
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      println(f"\n===== $n cold=${cold}%.3f s  warm=${wall}%.3f s  " +
        f"jobs=${jobs.size}  classes compiled cold=$coldClasses warm=$warmClasses =====")
      import scala.jdk.CollectionConverters._
      var prevEnd = 0L
      var jobSum = 0.0; var gapSum = 0.0
      order.asScala.foreach { id =>
        val j = jobs.get(id)
        val dur = (j.t1 - j.t0) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        jobSum += dur; if (gap > 0) gapSum += gap
        prevEnd = math.max(prevEnd, j.t1)
        val d = j.desc.replaceAll("\\s+", " ").take(70)
        println(f"  gap=${gap}%6.3f  job=${dur}%6.3f  tasks=${j.tasks}%4d " +
          f"taskSum=${j.taskMs / 1e3}%7.2f in=${j.input / 1e6}%7.1fMB " +
          f"sR=${j.shufR / 1e6}%6.1fMB sW=${j.shufW / 1e6}%6.1fMB  $d")
      }
      println(f"  TOTAL wall=${wall}%.3f  jobTime=${jobSum}%.3f  " +
        f"interJobGaps=${gapSum}%.3f  preFirstJob+tail=" +
        f"${wall - jobSum - gapSum}%.3f")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
