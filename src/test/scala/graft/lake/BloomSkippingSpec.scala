package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** r19: per-file bloom-filter skipping. The fixture's keys are
  * HASH-distributed across files — every file's [min, max] covers the
  * whole keyspace, so min/max stats provably cannot prune a point
  * predicate; the bloom sidecars must. Pins: strict-subset pruning
  * where stats prune nothing, result equivalence, conservative
  * behavior (no sidecar, nulls, non-point predicates, OR trees,
  * type-mismatched literals), IN-lists, both gears (driver probe and
  * the distributed job), bloom sizing from the files' row counts, and
  * the property/conf activation surface. */
class BloomSkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 4000 uniform keys hash-split into 8 files: k ranges overlap
    * totally by construction. Blooms on (k, tag). */
  private def fixture(bloomOn: Boolean = true) = {
    val dir = Files.createTempDirectory("graft-bloom").toString + "/t"
    val t = VersionedTable(spark, dir)
    if (bloomOn) spark.conf.set("spark.graft.lake.bloom.columns", "k,tag")
    try {
      t.commitOverwrite(spark.range(0, 4000).toDF("id")
        .select(col("id").as("k"),
          concat(lit("t"), col("id")).as("tag"),
          (col("id") * 2.5).as("v"))
        .repartition(8, col("k"))) // hash layout: ranges fully overlap
    } finally spark.conf.unset("spark.graft.lake.bloom.columns")
    t
  }

  test("point predicates bloom-prune where min/max provably cannot") {
    val t = fixture()
    val total = t.snapshotDataFiles().size
    assert(total == 8)
    // stats alone keep everything (overlapping ranges): prove it on a
    // bloom-free control table with the same layout
    val ctl = fixture(bloomOn = false)
    assert(ctl.candidateFiles(col("k") === 1234L).size == 8,
      "control: stats should not prune a hash layout")
    // blooms prune to the (few) files whose filter admits the key —
    // at minimum strictly fewer than all, typically exactly 1
    val hit = t.candidateFiles(col("k") === 1234L)
    assert(hit.nonEmpty && hit.size < total, s"bloom kept ${hit.size} of $total")
    // correctness: the pruned read equals the full filter
    assert(t.readWhere(col("k") === 1234L).count() == 1)
    assert(t.readWhere(col("tag") === "t99").count() == 1)
    // a key that does not exist prunes everything (no false keeps
    // needed — fpp makes this probabilistic, so allow <= 2 survivors)
    assert(t.candidateFiles(col("k") === 999999L).size <= 2)
    assert(t.readWhere(col("k") === 999999L).count() == 0)
    // IN-lists: union of members' files
    val inHit = t.candidateFiles(col("k").isin(10L, 2000L, 3999L))
    assert(inHit.nonEmpty && inHit.size < total)
    assert(t.readWhere(col("k").isin(10L, 2000L, 3999L)).count() == 3)
  }

  test("conservative paths never prune: OR trees, ranges, nulls, type mismatch, no sidecar") {
    val t = fixture()
    val total = t.snapshotDataFiles().size
    // OR at the top level: the other branch may hold — no bloom pruning
    assert(t.candidateFiles(col("k") === 999999L || col("v") > 0).size == total)
    // range predicates are not point terms (stats may still prune on
    // per-file maxima — blooms must not remove the files holding hits)
    assert(t.readWhere(col("k") > 3990L).count() == 9)
    // null-safe equal to null matches null rows, not bloom territory
    assert(t.readWhere(col("k") <=> lit(null)).count() == 0)
    // type-mismatched literal (string against long column after manual
    // construction) declines bloom; correctness preserved
    assert(t.readWhere(col("k") === lit("1234")).count() == 1)
    // bloom-free table: everything conservative (mid-keyspace point —
    // keyspace-edge keys can legitimately stats-prune on per-file minima)
    val ctl = fixture(bloomOn = false)
    assert(ctl.candidateFiles(col("k") === 2045L).size == total)
    assert(ctl.readWhere(col("k") === 2045L).count() == 1)
  }

  test("appends extend coverage; files from bloom-off commits stay conservative") {
    val t = fixture()
    // an append WITHOUT bloom conf: its files have no blooms → always kept
    t.commitAppend(Seq((100000L, "x1", 1.0)).toDF("k", "tag", "v"))
    val hit = t.candidateFiles(col("k") === 100000L)
    assert(hit.nonEmpty)
    assert(t.readWhere(col("k") === 100000L).count() == 1)
    // the v0 files still bloom-prune
    assert(t.candidateFiles(col("k") === 1234L).size <
      t.snapshotDataFiles().size)
  }

  test("table property activates blooms and the distributed gear agrees with the driver gear") {
    val dir = Files.createTempDirectory("graft-bloom-prop").toString + "/t"
    val t = VersionedTable(spark, dir)
    t.commitOverwrite(spark.range(0, 10).toDF("k")) // seed so properties commit works
    t.setProperties(Seq("bloom.columns" -> "k,g"))
    t.commitOverwrite(spark.range(0, 4000).toDF("id")
      .select(col("id").as("k"), (col("id") % 7).as("g"))
      .repartition(8, col("k")))
    // the gears must resolve blooms through the column map (k is now
    // `key`) and discard a dropped column's blooms (the old g held
    // 0..6; the re-added g is null everywhere, so `g = 100` must not
    // prune on the dead filter)
    t.renameColumn("k", "key")
    t.dropColumn("g")
    t.addColumn("g", org.apache.spark.sql.types.LongType)
    val files = t.snapshotDataFiles()
    val dist = VersionedTable(spark, dir)
    dist.bloomDriverMaxBytes = 0L
    for (p <- Seq(col("key") === 77L, col("key") === 77L && col("g") === 100L)) {
      val driverHit = t.candidateFiles(p)
      assert(driverHit.nonEmpty && driverHit.size < files.size)
      // the distributed gear (above 4096 candidate files or 256 MB of
      // sidecars) over the same sidecars: stats keep every file of the
      // hash layout, so it must keep exactly the driver probe's files
      val distHit = dist.candidateFiles(p)
      assert(distHit.toSet == driverHit.toSet,
        s"gears disagree on $p: driver=$driverHit dist=$distHit")
    }
    assert(t.readWhere(col("key") === 77L).count() == 1)
  }

  test("a filter is capped at 1 MB: a file above the cap gets a full-size, sound bloom") {
    val t = VersionedTable(spark,
      Files.createTempDirectory("graft-bloom-cap").toString + "/t")
    spark.conf.set("spark.graft.lake.bloom.columns", "k")
    // 1M rows at fpp 0.01 would size a 1.2 MB filter
    try t.commitOverwrite(spark.range(0, 1000000, 1, 1).select((col("id") * 2).as("k")))
    finally spark.conf.unset("spark.graft.lake.bloom.columns")
    val Seq(file) = t.snapshotDataFiles()
    val bytes = t.log.blooms.all()(file)("k").length
    assert(bytes <= BloomSidecars.MaxFilterBytes + 16, s"filter is $bytes bytes")
    assert(bytes > BloomSidecars.MaxFilterBytes - 16, s"filter is $bytes bytes")
    // no false negatives at the cap
    for (k <- Seq(0L, 2L, 777778L, 1999998L))
      assert(t.candidateFiles(col("k") === k) == Seq(file))
  }

  test("blooms are sized from the files' row counts: 250k-row files still prune absent keys") {
    val t = VersionedTable(spark,
      Files.createTempDirectory("graft-bloom-size").toString + "/t")
    spark.conf.set("spark.graft.lake.bloom.columns", "k")
    try t.commitOverwrite(spark.range(0, 1000000).select((col("id") * 2).as("k"))
      .repartition(4, col("k")))
    finally spark.conf.unset("spark.graft.lake.bloom.columns")
    assert(t.snapshotDataFiles().size == 4)
    // odd keys are absent; each lies inside every file's [min, max], so
    // only the blooms can drop a file. Sized for 250k rows at fpp 0.01,
    // about 1 of the 80 probes survives; an undersized filter saturates.
    val absent = (1 to 20).map(i => 2L * i * 49999 + 1)
    val kept = absent.map(k => t.candidateFiles(col("k") === k).size).sum
    assert(kept <= 4, s"$kept of 80 file probes survived")
  }

  test("DML rewrites keep bloom coverage consistent (CoW rewrite re-blooms its files)") {
    val t = fixture()
    spark.conf.set("spark.graft.lake.bloom.columns", "k,tag")
    try {
      t.update(col("k") === 1234L, Map("v" -> lit(-1.0)))
    } finally spark.conf.unset("spark.graft.lake.bloom.columns")
    assert(t.readWhere(col("k") === 1234L).select("v").head().getDouble(0) == -1.0)
    // point lookups still prune after the rewrite
    val hit = t.candidateFiles(col("k") === 1234L)
    assert(hit.size < t.snapshotDataFiles().size)
    // and the whole table still matches a full scan
    assert(t.read().count() == 4000)
  }
}
