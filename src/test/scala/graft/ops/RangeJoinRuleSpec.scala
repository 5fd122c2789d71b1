package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RangeJoinRuleSpec extends AnyFunSuite {

  private def withExtSession[T](f: SparkSession => T): T = {
    val prev = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions()).getOrCreate()
      f(s)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  // AQE wraps the plan; the real join node only exists after execution
  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  // points straddle zero to exercise the monotone-truncation argument
  private def fixtures(s: SparkSession) = {
    import s.implicits._
    val points = Seq((1L, -250L), (2L, -10L), (3L, 0L), (4L, 95L), (5L, 205L),
      (6L, 1000L)).toDF("pid", "t")
    // iid 14 is an EMPTY interval (lo > hi): matches nothing in a theta
    // join, and must not crash the banded rewrite's sequence generator
    val intervals = Seq((10L, -300L, -200L), (11L, -20L, 20L), (12L, 90L, 210L),
      (13L, 5000L, 6000L), (14L, 500L, 100L)).toDF("iid", "lo", "hi")
    (points, intervals)
  }

  private val expected = Set((1L, 10L), (2L, 11L), (3L, 11L), (4L, 12L), (5L, 12L))

  test("without a bin size the range theta join is a nested-loop join") {
    withExtSession { s =>
      import s.implicits._
      s.conf.unset(org.apache.spark.sql.graft.RangeJoinBanding.BIN_SIZE_KEY)
      val (points, intervals) = fixtures(s)
      val j = points.join(intervals, $"t" >= $"lo" && $"t" <= $"hi")
      // AQE query stages are leaf wrappers, so node-collect can't see
      // inside them; assert on the rendered final plan instead.
      assert(finalPlan(j).toString.contains("BroadcastNestedLoopJoin"))
      assert(j.select("pid", "iid").as[(Long, Long)].collect().toSet == expected)
    }
  }

  test("with binSize set, the rule plans a hash join and results are identical") {
    withExtSession { s =>
      import s.implicits._
      s.conf.set(org.apache.spark.sql.graft.RangeJoinBanding.BIN_SIZE_KEY, "100")
      try {
        val (points, intervals) = fixtures(s)
        val j = points.join(intervals, $"t" >= $"lo" && $"t" <= $"hi")
        assert(!finalPlan(j).toString.contains("BroadcastNestedLoopJoin"),
          "banding should eliminate the nested-loop join")
        assert(j.select("pid", "iid").as[(Long, Long)].collect().toSet == expected)
      } finally {
        s.conf.unset(org.apache.spark.sql.graft.RangeJoinBanding.BIN_SIZE_KEY)
      }
    }
  }

  test("a binSize below 1 fails naming the key instead of turning the rule off") {
    withExtSession { s =>
      import s.implicits._
      val key = org.apache.spark.sql.graft.RangeJoinBanding.BIN_SIZE_KEY
      val (points, intervals) = fixtures(s)
      Seq("0", "-100").foreach { bad =>
        s.conf.set(key, bad)
        try {
          val e = intercept[Exception](
            points.join(intervals, $"t" >= $"lo" && $"t" <= $"hi").collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).mkString(" | ")
          assert(msgs.contains(key) && msgs.contains(s"'$bad'"), msgs)
        } finally s.conf.unset(key)
      }
    }
  }

  test("joins with an equi key are left alone (already hash joins)") {
    withExtSession { s =>
      import s.implicits._
      s.conf.set(org.apache.spark.sql.graft.RangeJoinBanding.BIN_SIZE_KEY, "100")
      try {
        val a = Seq((1L, 5L), (2L, 15L)).toDF("k", "t")
        val b = Seq((1L, 0L, 10L), (2L, 0L, 10L)).toDF("k2", "lo", "hi")
        val j = a.join(b, $"k" === $"k2" && $"t" >= $"lo" && $"t" <= $"hi")
        // no Generate (explode) means the rule didn't fire
        val gens = j.queryExecution.optimizedPlan.collect {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
        }
        assert(gens.isEmpty)
        assert(j.select("k").as[Long].collect().toSeq == Seq(1L))
      } finally {
        s.conf.unset(org.apache.spark.sql.graft.RangeJoinBanding.BIN_SIZE_KEY)
      }
    }
  }
}
