package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkCounts, TestSpark}

/** Job and generated-code budgets of the lake's hot operations, on the
  * shape of one medallion round: a keyed MoR delete of re-sent and
  * tombstoned events in Bronze, the next batch's ingest, the Silver and
  * Gold refreshes, then a merge, a MoR delete and a MoR update on a side
  * table. Every Spark job pays a fixed driver floor, and every distinct
  * whole-stage body takes Spark's bounded code cache two entries in local
  * mode, so a rewrite that adds a stage or a plan shape to these
  * operations fails here before it shows in the benchmark. The bounds
  * are upper bounds at the counts the plans have today: a suite that ran
  * earlier in the same JVM can only lower the compile count.
  */
class LakeBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
  private val types = Seq("click", "view", "error")

  /** Events `ids` as one parquet batch under `dir`, read back the way an
    * ingest reads its input; `bump` shifts the values of re-sent ids. */
  private def batch(dir: String, name: String, ids: Seq[Long], bump: Double = 0.0): DataFrame = {
    val rows = ids.map { i =>
      (i, java.sql.Timestamp.valueOf(s"${days((i % 3).toInt)} 10:00:00"), i % 7,
        types((i % 3).toInt), if (i % 11 == 0) None else Some(i.toDouble + bump))
    }
    val path = s"$dir/$name"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value").write.parquet(path)
    spark.read.parquet(path)
  }

  private val clean: DataFrame => DataFrame = df =>
    df.filter(col("value").isNotNull)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))

  /** (result, jobs, compiled classes) of `body`. */
  private def measured[T](body: => T): (T, Int, Long) = {
    val ((r, jobs), classes) = SparkCounts.compilesDuring(SparkCounts.jobsDuring(spark)(body))
    (r, jobs, classes)
  }

  test("one medallion round and the side-table DML stay within their job and codegen budgets") {
    val dir = Files.createTempDirectory("graft-budget").toString
    val m = new Medallion(spark, s"$dir/lake")
    val side = VersionedTable(spark, s"$dir/lake/side")
    // round 0 builds the lake; it is not measured
    val b0 = batch(dir, "b0", 0L until 200L)
    m.ingest(b0)
    m.refreshSilver(clean, Seq("event_id"))
    m.refreshGold(col("day"), col("event_type"), col("value"))
    side.merge(b0, Seq("event_id"))

    val resent = (0L until 200L by 10).toSeq
    val tombs = (5L until 200L by 20).toSeq
    val b1 = batch(dir, "b1", resent ++ (200L until 400L), bump = 0.5)
    val (_, delJobs, delClasses) =
      measured(m.bronze.deleteMoR(col("event_id").isin(resent ++ tombs: _*)))
    val (_, ingJobs, ingClasses) = measured(m.ingest(b1))
    val (silverV, silverJobs, silverClasses) =
      measured(m.refreshSilver(clean, Seq("event_id")))
    val (goldR, goldJobs, goldClasses) =
      measured(m.refreshGoldStats(col("day"), col("event_type"), col("value")))
    assert(silverV.isDefined && goldR.isDefined)
    // the round really rescanned: tombstones and re-sent rows deleted values
    assert(goldR.get.touchedBuckets.toSet == days.toSet)

    val (_, mergeJobs, mergeClasses) = measured(side.merge(b1, Seq("event_id")))
    val (_, sideDelJobs, sideDelClasses) =
      measured(side.deleteMoR(col("event_id").isin(tombs: _*)))
    val (_, updJobs, updClasses) = measured(side.updateMoR(
      col("event_type") === "error" && col("event_id") >= 200L,
      Map("value" -> (col("value") + 1.0))))

    val jobs = Map("deleteMoR" -> delJobs, "ingest" -> ingJobs,
      "refreshSilver" -> silverJobs, "refreshGold" -> goldJobs,
      "merge" -> mergeJobs, "side deleteMoR" -> sideDelJobs, "updateMoR" -> updJobs)
    val budget = Map("deleteMoR" -> 1, "ingest" -> 1, "refreshSilver" -> 4,
      "refreshGold" -> 4, "merge" -> 6, "side deleteMoR" -> 1, "updateMoR" -> 2)
    val over = budget.collect { case (op, b) if jobs(op) > b => s"$op ${jobs(op)} > $b" }
    assert(over.isEmpty, s"job budget exceeded: ${over.mkString(", ")} (all: $jobs)")

    val roundClasses = delClasses + ingClasses + silverClasses + goldClasses
    val sideClasses = mergeClasses + sideDelClasses + updClasses
    info(s"jobs $jobs; generated classes: round $roundClasses (deleteMoR $delClasses, " +
      s"ingest $ingClasses, refreshSilver $silverClasses, refreshGold $goldClasses), " +
      s"side $sideClasses (merge $mergeClasses, deleteMoR $sideDelClasses, updateMoR $updClasses)")
    assert(roundClasses <= RoundClasses,
      s"the medallion round compiled $roundClasses generated classes, budget $RoundClasses " +
        s"(deleteMoR $delClasses, ingest $ingClasses, refreshSilver $silverClasses, " +
        s"refreshGold $goldClasses)")
    assert(sideClasses <= SideClasses,
      s"the side-table DML compiled $sideClasses generated classes, budget $SideClasses " +
        s"(merge $mergeClasses, deleteMoR $sideDelClasses, updateMoR $updClasses)")

    // and the states are right
    val silverIds = m.silver.read().select("event_id").as[Long].collect().toSet
    val live = ((0L until 400L).toSet -- tombs).filterNot(_ % 11 == 0)
    assert(silverIds == live)
    assert(m.goldView().agg(sum("n")).head().getLong(0) == live.size.toLong)
  }

  /** Generated classes a cold run of the measured medallion round
    * compiles (deleteMoR, ingest, refreshSilver, refreshGold). */
  private val RoundClasses = 28L
  /** Generated classes a cold run of the side-table merge, MoR delete
    * and MoR update compiles. */
  private val SideClasses = 21L
}
