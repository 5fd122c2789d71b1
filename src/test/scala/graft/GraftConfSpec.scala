package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.VersionedTable

/** The typed `spark.graft.*` reader: every key type parses its value or
  * fails naming the key and the value, also where the engine reads it. */
class GraftConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withConf[A](key: String, v: String)(f: => A): A = {
    spark.conf.set(key, v)
    try f finally spark.conf.unset(key)
  }

  private def failsNaming(key: String, bad: String)(f: => Any): Unit = {
    val e = withClue(s"$key = '$bad': ")(intercept[IllegalArgumentException](f))
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
  }

  test("integer keys: a malformed or out-of-range value fails naming the key and value") {
    val key = "spark.graft.stream.statePartitions"
    def parse(raw: String) = GraftConf.parseLong(key, raw, min = 1L, max = Int.MaxValue)
    assert(parse(" 12 ") == 12L)
    Seq("lots", "1.5", "0", "2147483648").foreach(bad => failsNaming(key, bad)(parse(bad)))
    // where the engine reads it: the streaming aggregate's state width
    failsNaming(key, "lots")(withConf(key, "lots")(Tables.statePartitions(spark, 1L)))
    assert(withConf(key, "3")(Tables.statePartitions(spark, 1L)) == 3)
  }

  test("boolean keys take true or false in any case and fail naming the key otherwise") {
    val key = "spark.graft.lake.verifyListing"
    assert(!GraftConf.boolean(spark.conf, key, default = false))
    assert(withConf(key, "TRUE")(GraftConf.boolean(spark.conf, key, default = false)))
    assert(!withConf(key, " false ")(GraftConf.boolean(spark.conf, key, default = true)))
    // `yes` used to read as off, whatever the default
    Seq("yes", "1", "").foreach { bad =>
      failsNaming(key, bad)(withConf(key, bad)(GraftConf.boolean(spark.conf, key, default = true)))
    }
    // where the engine reads it: planning a fresh table's snapshot read
    val fresh = VersionedTable(spark, Files.createTempDirectory("graft-conf").toString)
    fresh.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    failsNaming(key, "yes")(withConf(key, "yes")(fresh.read().collect()))
  }

  test("a malformed bloom.fpp fails the commit naming the key instead of dropping the blooms") {
    val t = VersionedTable(spark, Files.createTempDirectory("graft-conf").toString)
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.setProperties(Seq("bloom.columns" -> "id", "bloom.fpp" -> "often"))
    val head = t.latestVersion()
    failsNaming("bloom.fpp", "often")(t.commitAppend(Seq((2L, "b")).toDF("id", "v")))
    assert(t.latestVersion() == head) // nothing committed
    // so does the session key when no table property is set
    t.unsetProperties(Seq("bloom.fpp"))
    failsNaming("spark.graft.lake.bloom.fpp", "2")(
      withConf("spark.graft.lake.bloom.fpp", "2")(t.commitAppend(Seq((2L, "b")).toDF("id", "v"))))
    // a well-formed value commits with blooms
    t.setProperties(Seq("bloom.fpp" -> "0.05"))
    assert(t.commitAppend(Seq((2L, "b")).toDF("id", "v")) > head.get)
  }
}
