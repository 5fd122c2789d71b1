package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
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

  private def dvTable(): VersionedTable = {
    val t = VersionedTable(spark, Files.createTempDirectory("graft-conf").toString)
    t.commitOverwrite((1L to 6L).map(i => (i, s"r$i")).toDF("id", "v"))
    assert(t.deleteMoR(col("id") <= 2L).isDefined)
    t
  }

  test("integer keys: a malformed or out-of-range value fails naming the key and value") {
    val key = "spark.graft.lake.dvBroadcastMaxRows"
    assert(GraftConf.long(spark.conf, key, 7L) == 7L) // unset: the default
    assert(withConf(key, " 12 ")(GraftConf.long(spark.conf, key, 7L, min = 0L)) == 12L)
    Seq("lots", "1.5", "-1").foreach { bad =>
      failsNaming(key, bad)(withConf(key, bad)(GraftConf.long(spark.conf, key, 7L, min = 0L)))
    }
    // where the engine reads it: the deletion-vector overlay's size gear
    val t = dvTable()
    failsNaming(key, "lots")(withConf(key, "lots")(t.read().count()))
    assert(withConf(key, "0")(t.read().count()) == 4L) // the anti-join gear
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
    val t = dvTable()
    withConf("spark.graft.lake.bloom.columns", "id")(
      t.commitAppend(Seq((7L, "r7")).toDF("id", "v")))
    failsNaming("spark.graft.lake.bloom.enabled", "on")(
      withConf("spark.graft.lake.bloom.enabled", "on")(t.candidateFiles(col("id") === 7L)))
  }

  test("a malformed bloom.fpp fails the commit naming the key instead of dropping the blooms") {
    val t = VersionedTable(spark, Files.createTempDirectory("graft-conf").toString)
    t.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    t.setProperties(Seq("bloom.columns" -> "id", "bloom.fpp" -> "often"))
    val head = t.latestVersion()
    failsNaming("bloom.fpp", "often")(t.commitAppend(Seq((2L, "b")).toDF("id", "v")))
    assert(t.latestVersion() == head) // nothing committed
    failsNaming("spark.graft.lake.bloom.maxItems", "0")(
      withConf("spark.graft.lake.bloom.maxItems", "0") {
        t.setProperties(Seq("bloom.fpp" -> "0.05"))
        t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
      })
    // a well-formed value commits with blooms
    assert(t.commitAppend(Seq((2L, "b")).toDF("id", "v")) > head.get)
  }
}
