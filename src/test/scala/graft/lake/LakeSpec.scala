package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-lake").toString

  test("S10: insert-only merge is idempotent (merge∘merge = merge)") {
    val path = tmpDir() + "/t"
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Merge.insertOnlyMerge(spark, v1, path, Seq("id"))
    assert(spark.read.parquet(path).count() == 2)
    // re-deliver v1 plus one new row: only the new row lands
    val v2 = Seq((1, "a"), (2, "CHANGED"), (3, "c")).toDF("id", "v")
    Merge.insertOnlyMerge(spark, v2, path, Seq("id"))
    val after = spark.read.parquet(path)
    assert(after.count() == 3)
    // matched row untouched (insert-only: no update)
    assert(after.filter(col("id") === 2).select("v").as[String].head() == "b")
    // once more with the same batch: nothing changes
    Merge.insertOnlyMerge(spark, v2, path, Seq("id"))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("S9: partitioned write produces partition directories (pruning lever)") {
    val base = tmpDir()
    val df = Seq(("x", "US"), ("y", "JP"), ("z", "US")).toDF("v", "country")
    LayerWriter.write(df, LayerPath(base, "Silver", "CoinLore", "exchanges"),
      LayerWriter.Overwrite, partitionCol = Some("country"))
    val dirs = new java.io.File(s"$base/Silver/CoinLore/exchanges")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("country=US", "country=JP"))
    // partition filter prunes: only the US files are read
    val us = spark.read.parquet(s"$base/Silver/CoinLore/exchanges")
      .filter(col("country") === "US")
    assert(us.count() == 2)
  }

  test("S1–S3: watermark upsert round-trips and derives a usable predicate") {
    val path = tmpDir() + "/metadata_ingestion.json"
    val wm = new Watermark(path)
    intercept[NoSuchElementException](wm.get("ticker"))
    wm.update("ticker", WatermarkEntry("fecha_actualizacion", "2024-08-12 10:11:12"))
    assert(wm.get("ticker") == WatermarkEntry("fecha_actualizacion", "2024-08-12 10:11:12"))
    assert(wm.predicate("ticker") == "fecha_actualizacion > '2024-08-12 10:11:12'")
    // update overwrites cleanly even when the new JSON is shorter
    // (the reference's seek(0)-without-truncate hazard, main.py:73-75)
    wm.update("ticker", WatermarkEntry("f", "x"))
    assert(wm.get("ticker") == WatermarkEntry("f", "x"))
    // values holding a quote or a backslash are escaped, and the other
    // tables' entries survive the rewrite
    for (v <- Seq("a\"b", "c:\\dir\\", "\"}, \"x\": {")) {
      wm.update("other", WatermarkEntry("c", v))
      assert(wm.get("other") == WatermarkEntry("c", v))
      assert(wm.get("ticker") == WatermarkEntry("f", "x"))
    }
  }

  test("S2: HTTP-date watermark derivation matches the reference format") {
    assert(Watermark.fromHttpDate("Mon, 12 Aug 2024 10:11:12 GMT") == "2024-08-12 10:11:12")
  }
}
