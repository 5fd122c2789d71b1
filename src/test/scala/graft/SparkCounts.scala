package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Counters the suites pin budgets with: Spark jobs started and
  * generated classes compiled while a body runs. */
object SparkCounts {
  /** (result, Spark jobs started while `body` ran): a listener counts
    * job starts, with the async listener bus drained on both sides. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  /** (result, generated classes compiled while `body` ran): the delta
    * of Spark's codegen compilation count, JVM-wide. A class another
    * suite already compiled is a cache hit and does not count, so only
    * an upper bound on this number is a stable assertion. */
  def compilesDuring[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }
}
