package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** An output check that failed: the op is counted as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)
}

/** One closed-loop operation of a workload. Times are epoch milliseconds
  * with sub-millisecond resolution (see [[Recorder.now]]). */
final case class OpRec(id: Int, pass: Int, kind: String, name: String,
                       start: Double, end: Double, ok: Boolean, err: String,
                       value: Long)

/** A span recorded around a call into a layer. `parent` is the enclosing
  * span (-1 for an op's root span); `op` is the op that was running. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int)

/** Records ops always, and spans plus Spark listener events only while
  * tracing is on. Ops and spans are recorded on the single client
  * thread; listener callbacks arrive on Spark's listener-bus thread. */
final class Recorder(spark: SparkSession) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch ms on the monotonic clock, comparable with listener times. */
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var curOp = -1
  private var pass = -1
  private var tracing = false

  val listener = new Listener
  val qeListener = new PhaseListener

  def startTracing(): Unit = if (!tracing) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    tracing = false
  }

  def beginPass(p: Int): Unit = pass = p

  /** Runs one op: the body's exceptions (including [[CheckFailed]]) mark
    * the op failed instead of ending the run. `value` is an optional
    * count the body reports for the run record. */
  def op[T](kind: String, name: String)(body: => T)(value: T => Long): Option[T] = {
    val id = ops.size
    curOp = id
    spark.sparkContext.setLocalProperty(Recorder.OpKey, id.toString)
    val t0 = now()
    val sid = if (tracing) openSpan() else -1
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = now()
    if (tracing) closeSpan(sid, "op", t0, t1)
    spark.sparkContext.setLocalProperty(Recorder.OpKey, null)
    curOp = -1
    res match {
      case Right(v) =>
        ops += OpRec(id, pass, kind, name, t0, t1, ok = true, "", value(v))
        Some(v)
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] op $name failed: $msg")
        ops += OpRec(id, pass, kind, name, t0, t1, ok = false, msg, -1L)
        None
    }
  }

  /** A span named after the layer call it wraps (e.g. `lake.merge`). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = now()
      val sid = openSpan()
      try body finally closeSpan(sid, name, t0, now())
    }

  private def openSpan(): Int = {
    val id = nextSpan
    nextSpan += 1
    stack = id :: stack
    id
  }

  private def closeSpan(id: Int, name: String, t0: Double, t1: Double): Unit = {
    stack = stack.tail
    spans += Span(id, name, t0, t1, stack.headOption.getOrElse(-1), curOp)
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
}

/** Job intervals and per-op task metric sums, from Spark's listener bus. */
final class Listener extends SparkListener {
  /** (job id, op, start ms, end ms) */
  val jobs = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val stageOp = mutable.Map.empty[Int, Int]
  /** Per op: tasks, task ms, task cpu ns, scan, shuffle write, shuffle
    * read, spill and output bytes, completed stages. */
  val perOp = mutable.Map.empty[Int, Array[Long]]

  private def acc(op: Int): Array[Long] = perOp.getOrElseUpdate(op, new Array[Long](9))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Recorder.opOf(e.properties)
    e.stageIds.foreach(stageOp(_) = op)
    jobStart(e.jobId) = (op, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) => jobs += ((e.jobId, op, t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp(e.stageInfo.stageId) = Recorder.opOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageOp.getOrElse(e.stageInfo.stageId, -1))(8) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageOp.getOrElse(e.stageId, -1))
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.inputMetrics.bytesRead
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(7) += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst phase timings of every finished query execution, from
  * `QueryPlanningTracker`. */
final class PhaseListener extends QueryExecutionListener {
  /** (phase, start ms, end ms) */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var executions = 0

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.endTimeMs))
    }
    executions += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
