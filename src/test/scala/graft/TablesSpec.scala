package graft

import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = "spark.graft.stream.statePartitions"

  test("a malformed statePartitions override fails naming the key and value") {
    def withOverride[A](v: String)(f: => A): A = {
      spark.conf.set(Key, v)
      try f finally spark.conf.unset(Key)
    }
    // a valid override wins without evaluating the by-name cardinality
    assert(withOverride(" 6 ")(Tables.statePartitions(spark, sys.error("evaluated"))) == 6)
    Seq("six", "0").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        withOverride(bad)(Tables.statePartitions(spark, 1L)))
      assert(e.getMessage.contains(Key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    // no override: the observed key count, capped by shuffle parallelism
    assert(Tables.statePartitions(spark, 2L) == 2)
    assert(Tables.statePartitions(spark, 1000L) ==
      spark.sessionState.conf.numShufflePartitions)
  }
}
