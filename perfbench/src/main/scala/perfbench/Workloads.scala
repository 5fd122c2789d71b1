package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.lake.{Medallion, VersionedTable}
import graft.llm.{Dedup, Similarity}

/** One benchmark workload. `prepare` loads the seeded inputs that
  * `perfbench/datagen.py` wrote under `dir`, `pass` runs the op list once
  * through the recorder, and `verify` checks outputs after the timed
  * window and returns failure messages. */
trait Workload {
  def prepare(dir: String): Unit
  def pass(p: Int): Unit
  /** The untimed warm-up before the window. */
  def warmup(): Unit = pass(-1)
  /** Untimed reset before each measured pass, so every pass does the
    * same work. */
  def beforePass(): Unit = ()
  /** Ops that end the run once, after the last measured pass. */
  def finish(): Unit = ()
  /** `outDir` takes outputs that checks outside the JVM read. */
  def verify(outDir: String): Seq[String] = Nil
  /** Workload facts for the run record. */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, rec: Recorder): Workload =
    name match {
      case "lake_commit"  => new LakeCommit(spark, rec)
      case "llm_curation" => new LlmCuration(spark, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** (file count, total bytes) under `root`, 0 when it does not exist */
  def dirBytes(root: String, pred: File => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(Paths.get(root))) (0L, 0L)
    else {
      val files = Files.walk(Paths.get(root)).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && pred(f)).toSeq
      (files.size.toLong, files.map(_.length).sum)
    }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally walk.close()
  }

  def deleteTree(root: String): Unit =
    if (Files.exists(Paths.get(root))) {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }
}

/** Many small commits on one lake: a round of seeded `events` batches
  * (new keys, re-sent keys and tombstones) runs through a medallion, plus
  * merge / MoR delete / MoR update on a side table and reads beside the
  * writes; the run ends with optimize plus vacuum. The warm-up builds a
  * base lake from every round but the last and compacts it; each pass
  * applies the last round to a fresh copy of the base lake through fresh
  * table handles, so every pass does the same work. An in-memory model of
  * the same batches gives the expected states. */
final class LakeCommit(spark: SparkSession, rec: Recorder) extends Workload {
  private final case class Ev(id: Long, ts: java.sql.Timestamp, user: Long, etype: String,
                              value: java.lang.Double) {
    def day: String = ts.toInstant.toString.take(10)
  }
  private final case class Round(ins: Seq[Ev], resent: Seq[Long], tombs: Seq[Long],
                                 readUser: Long)

  private var rounds = IndexedSeq.empty[Round]
  private var newPerRound = 0L
  private val clean: DataFrame => DataFrame = df =>
    df.filter(col("value").isNotNull)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"))

  private var batchPaths = IndexedSeq.empty[String]
  private var userBytes = IndexedSeq.empty[Long]
  private var dataDir = ""
  private var baseRoot = ""
  private var lakeRoot = ""
  private var copies = 0
  private var m: Medallion = _
  private var side: VersionedTable = _
  private var live = Map.empty[Long, Ev] // bronze model
  private var sideModel = Map.empty[Long, Ev]
  private val sideCounts = mutable.Map.empty[Int, Long] // side version -> rows
  private var baseModel = (Map.empty[Long, Ev], Map.empty[Long, Ev], Map.empty[Int, Long])
  private val passStats = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var finalStats = Map.empty[String, Long]

  def prepare(dir: String): Unit = {
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$dir/rounds.json"))
    newPerRound = meta.get("new_per_round").asLong
    def longs(n: com.fasterxml.jackson.databind.JsonNode): Seq[Long] =
      n.elements().asScala.map(_.asLong).toSeq
    val metaRounds = meta.get("rounds").elements().asScala.toIndexedSeq
    batchPaths = metaRounds.indices.map(i => s"$dir/batches/round$i.parquet")
    userBytes = batchPaths.map(p => Workload.dirBytes(p, _.getName.endsWith(".parquet"))._2)
    val rows = spark.read.parquet(batchPaths: _*)
      .select(col("*"), col("_metadata.file_path").as("_file")).collect()
      .groupBy(r => batchPaths.indexWhere(p => r.getAs[String]("_file").contains(p + "/")))
    rounds = metaRounds.zipWithIndex.map { case (mr, i) =>
      Round(rows(i).map(r => Ev(r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
          r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[java.lang.Double]("value"))).toSeq,
        longs(mr.get("resent")), longs(mr.get("tombs")), mr.get("read_user").asLong)
    }
    dataDir = dir
    baseRoot = s"$dir/lake-base"
    open(baseRoot)
    live = Map.empty; sideModel = Map.empty; sideCounts.clear(); passStats.clear()
    finalStats = Map.empty
  }

  private def open(root: String): Unit = {
    lakeRoot = root
    m = new Medallion(spark, root)
    side = VersionedTable(spark, s"$root/side")
  }

  override def warmup(): Unit = {
    rounds.indices.init.foreach(applyRound(-1, _))
    compact()
    baseModel = (live, sideModel, sideCounts.toMap)
  }

  override def beforePass(): Unit = {
    if (lakeRoot != baseRoot) Workload.deleteTree(lakeRoot)
    copies += 1
    Workload.copyTree(baseRoot, s"$dataDir/lake-pass$copies")
    open(s"$dataDir/lake-pass$copies")
    live = baseModel._1
    sideModel = baseModel._2
    sideCounts.clear()
    sideCounts ++= baseModel._3
  }

  def pass(p: Int): Unit = applyRound(p, rounds.size - 1)

  private def applyRound(p: Int, i: Int): Unit = {
    val r = rounds(i)
    val tables = Seq(m.bronze, m.silver, m.gold, side)
    def versions: Long = tables.map(_.latestVersion().map(_ + 1L).getOrElse(0L)).sum
    val v0 = versions
    val files0 = Workload.dirBytes(lakeRoot, _.getName.endsWith(".parquet"))._1
    var mutations = 0L
    def commit[T](name: String)(body: => T): Option[T] = {
      mutations += 1
      rec.op("commit", name)(rec.span(s"lake.$name")(body))(_ => 0L)
    }
    def sideVersion(v: Option[Option[Int]]): Unit =
      v.flatten.foreach(sideCounts(_) = sideModel.size.toLong)

    val batch = spark.read.parquet(batchPaths(i))
    if (i > 0) commit("delete")(m.bronze.deleteMoR(col("event_id").isin(r.resent ++ r.tombs: _*)))
    commit("ingest")(m.ingest(batch))
    commit("refresh_silver")(m.refreshSilver(clean, Seq("event_id")))
    commit("refresh_gold")(m.refreshGold(col("day"), col("event_type"), col("value")))
    live = (live -- r.tombs) ++ r.ins.map(e => e.id -> e)
    sideModel = sideModel ++ r.ins.map(e => e.id -> e)
    sideVersion(commit("merge")(side.merge(batch, Seq("event_id"))))
    if (r.tombs.nonEmpty) {
      sideModel = sideModel -- r.tombs
      sideVersion(commit("delete")(side.deleteMoR(col("event_id").isin(r.tombs: _*))))
    }
    val (lo, hi) = (i * newPerRound, (i + 1) * newPerRound)
    sideModel = sideModel.map {
      case (k, e) if e.etype == "error" && k >= lo && k < hi && e.value != null =>
        k -> e.copy(value = java.lang.Double.valueOf(e.value + 1.0))
      case kv => kv
    }
    sideVersion(commit("update")(side.updateMoR(
      col("event_type") === "error" && col("event_id") >= lo && col("event_id") < hi,
      Map("value" -> (col("value") + 1.0)))))

    val groups = goldModel(live).size.toLong
    rec.op("read", "gold_view") {
      val n = rec.span("lake.read")(m.goldView().collect().length).toLong
      Check(n == groups, s"gold view has $n groups, expected $groups")
      n
    }(identity)
    val userRows = sideModel.values.count(_.user == r.readUser).toLong
    rec.op("read", "read_where") {
      val n = rec.span("lake.read")(side.readWhere(col("user_id") === r.readUser)
        .collect().length).toLong
      Check(n == userRows, s"readWhere returned $n rows, expected $userRows")
      n
    }(identity)
    rec.op("read", "time_travel") {
      rec.span("lake.read") {
        val head = rec.span("lake.resolve")(side.latestVersion()).getOrElse(-1)
        val v = math.max(0, head - 2)
        rec.span("lake.resolve")(side.snapshotFileMeta(Some(v)))
        val n = side.read(Some(v)).count()
        sideCounts.get(v).foreach(e => Check(n == e, s"side@v$v has $n rows, expected $e"))
        n
      }
    }(identity)
    val written = Workload.dirBytes(lakeRoot, _.getName.endsWith(".parquet"))._1 - files0
    passStats += Map("pass" -> p.toLong, "round" -> i.toLong, "versions" -> (versions - v0),
      "mutations" -> mutations, "files_written" -> written)
  }

  /** Optimize on the side table and vacuum on every table. */
  private def compact(): Unit = {
    rec.op("commit", "optimize")(rec.span("lake.optimize")(side.optimize(100000L)))(_ => 0L)
    Seq(m.bronze, m.silver, m.gold, side).foreach { t =>
      rec.op("commit", "vacuum")(rec.span("lake.vacuum")(t.vacuum(minAgeMs = 0L)))(_ => 0L)
    }
  }

  /** The run's end: compaction of the last pass's lake, then the bytes
    * the lake holds. */
  override def finish(): Unit = {
    compact()
    val (_, dataBytes) = Workload.dirBytes(lakeRoot, _.getName.endsWith(".parquet"))
    val (_, allBytes) = Workload.dirBytes(lakeRoot)
    finalStats = Map("data_bytes" -> dataBytes, "log_bytes" -> (allBytes - dataBytes),
      "lake_bytes" -> allBytes, "user_bytes" -> userBytes.sum)
  }

  /** (day, event_type) -> (n, vsum, vmin, vmax) over the non-null values */
  private def goldModel(rows: Map[Long, Ev]): Map[(String, String), (Long, Double, Double, Double)] =
    rows.values.filter(_.value != null).groupBy(e => (e.day, e.etype)).map { case (k, es) =>
      val vs = es.map(_.value.doubleValue)
      k -> ((vs.size.toLong, vs.sum, vs.min, vs.max))
    }

  override def verify(outDir: String): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val silver = m.silver.read().collect().map(r =>
      (r.getAs[Long]("event_id"), r.getAs[String]("day"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"))).toSet
    val silverExp = live.values.filter(_.value != null)
      .map(e => (e.id, e.day, e.etype, e.value.doubleValue)).toSet
    if (silver != silverExp)
      errs += s"silver: ${(silver -- silverExp).size} unexpected, ${(silverExp -- silver).size} missing rows"
    val gold = m.goldView().collect().map(r => (r.get(0).toString, r.get(1).toString) ->
      ((r.getAs[Long]("n"), r.getAs[Double]("vsum"), r.getAs[Double]("vmin"),
        r.getAs[Double]("vmax")))).toMap
    val goldExp = goldModel(live)
    if (gold.keySet != goldExp.keySet) errs += s"gold: groups differ (${gold.size} vs ${goldExp.size})"
    else goldExp.foreach { case (k, (n, s, lo, hi)) =>
      val (gn, gs, glo, ghi) = gold(k)
      if (gn != n || glo != lo || ghi != hi || math.abs(gs - s) > 1e-6 * math.max(1.0, math.abs(s)))
        errs += s"gold $k: got ($gn, $gs, $glo, $ghi), expected ($n, $s, $lo, $hi)"
    }
    val sideRows = side.read().collect().map(r => (r.getAs[Long]("event_id"),
      r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
      Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue))).toSet
    val sideExp = sideModel.values.map(e => (e.id, e.user, e.etype,
      Option(e.value).map(_.doubleValue))).toSet
    if (sideRows != sideExp)
      errs += s"side table: ${(sideRows -- sideExp).size} unexpected, ${(sideExp -- sideRows).size} missing rows"
    val bronzeRows = m.bronze.read().count()
    if (bronzeRows != live.size) errs += s"bronze: $bronzeRows rows, expected ${live.size}"
    errs.toSeq
  }

  override def facts: Map[String, Any] =
    Map("pass_stats" -> passStats.toSeq, "final_stats" -> finalStats)
}

/** Curation kernels over seeded `documents` and `embeddings`: MinHash
  * near-dup pairs, components and survivors, LSH against brute-force
  * top-k, and the text-analysis registry queries (built through
  * `SparkEntry.queries`, outputs checked against the DuckDB oracle). */
final class LlmCuration(spark: SparkSession, rec: Recorder) extends Workload {
  val NumQueries = 32
  val K = 10
  val Threshold = 0.7

  val RegistryQueries: Seq[String] = Seq("q_langid", "q_gopher_filter")
  private val registry = SparkEntry.queries
  private var dataDir = ""
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var texts = Map.empty[Long, String]
  private var exactTopK = Map.empty[Long, Seq[(Long, Double)]]
  private var bruteDigest: Option[Int] = None
  private val results = mutable.Map.empty[String, Double]

  def prepare(dir: String): Unit = {
    dataDir = dir
    docs = Tables.documents(spark, dir)
    emb = Tables.embeddings(spark, dir)
    queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val byId = vecs.toMap
    exactTopK = (0L until NumQueries).map { q =>
      val qv = byId(q)
      q -> vecs.iterator.filter(_._1 != q).map { case (id, v) =>
        id -> cosine(qv, v)
      }.toSeq.sortBy { case (id, c) => (-c, id) }.take(K)
    }.toMap
    bruteDigest = None
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  private def shingles(text: String): Set[String] = {
    val t = text.split(' ')
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def pass(p: Int): Unit = {
    val pairs = rec.op("llm", "minhash_pairs") {
      val ps = rec.span("llm.minhash")(Dedup.minhashPairs(docs, Threshold).collect())
        .map(r => (r.getLong(0), r.getLong(1)))
      ps.foreach { case (a, b) =>
        val (x, y) = (shingles(texts(a)), shingles(texts(b)))
        val j = (x & y).size.toDouble / (x | y).size
        Check(j >= Threshold, s"pair ($a, $b) has exact Jaccard $j < $Threshold")
      }
      results("dup_pairs") = ps.length
      ps
    }(_.length.toLong).getOrElse(Array.empty[(Long, Long)])
    val pairsDf = spark.createDataFrame(pairs.toSeq).toDF("id1", "id2")
    val expected = components(pairs)
    rec.op("llm", "components") {
      val got = rec.span("llm.components")(Dedup.connectedComponents(pairsDf).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Check(got.keySet == expected.keySet, "components cover a different id set")
      Check(got.groupBy(_._2).values.map(_.keySet).toSet ==
        expected.groupBy(_._2).values.map(_.keySet).toSet, "components differ from union-find")
      got.size.toLong
    }(identity)
    rec.op("llm", "survivors") {
      val ids = rec.span("llm.components")(Dedup.dedupSurvivors(docs, pairsDf)
        .select("doc_id").collect()).map(_.getLong(0))
      val idSet = ids.toSet
      Check(idSet.subsetOf(texts.keySet) && idSet.size == ids.length, "survivors not a subset of the input")
      val casualties = expected.count { case (id, c) => id != c }
      Check(ids.length == texts.size - casualties,
        s"${ids.length} survivors, expected ${texts.size - casualties}")
      results("survivors") = ids.length
      ids.length.toLong
    }(identity)
    rec.op("llm", "lsh_topk") {
      val got = rec.span("llm.ann")(Similarity.lshTopK(emb, queries, K).collect())
        .map(r => (r.getLong(0), r.getLong(1)))
      val hits = got.count { case (q, n) => exactTopK(q).exists(_._1 == n) }
      results("ann_recall") = hits.toDouble / (NumQueries * K)
      got.length.toLong
    }(identity)
    rec.op("llm", "brute_topk") {
      val got = rec.span("llm.ann")(Similarity.bruteForceTopK(emb, queries, K).collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2))
      got.groupBy(_._1).foreach { case (q, rows) =>
        val exp = exactTopK(q)
        val kth = exp.last._2
        Check(rows.length == K && math.abs(rows.last._3 - kth) < 1e-5, s"query $q: k-th cosine differs")
        // neighbours clear of the k-th value by more than rounding must match
        val sure = exp.filter(_._2 > kth + 1e-5).map(_._1).toSet
        Check(sure.subsetOf(rows.map(_._2).toSet), s"query $q: top-$K neighbours differ")
      }
      Check(got.map(_._1).toSet == exactTopK.keySet, "brute-force top-k misses queries")
      val digest = got.toSeq.hashCode
      Check(bruteDigest.forall(_ == digest), "brute-force top-k differs from the first pass")
      bruteDigest = Some(digest)
      got.length.toLong
    }(identity)
    // row counts are checked against the DuckDB oracle by perfbench/run.py
    RegistryQueries.foreach { name =>
      rec.op("llm", name) {
        rec.span("llm.text") {
          rec.span("registry.build")(registry(name)(spark, dataDir)).count()
        }
      }(identity)
    }
  }

  /** Two passes: a pass is short and the JIT is still compiling the
    * kernels' code after one, so one pass leaves the measured passes
    * drifting. */
  override def warmup(): Unit = { pass(-1); pass(-1) }

  /** Every registry query's output, written once for the DuckDB oracle
    * compare. */
  override def verify(outDir: String): Seq[String] = {
    val oracle = SparkEntry.oracleSql
    RegistryQueries.flatMap { name =>
      if (!oracle.contains(name)) Some(s"$name: no oracle SQL")
      else try {
        // the oracle compare reads timestamps as INT96 (see graft.Verify)
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        try registry(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        None
      } catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
  }

  /** Union-find over the pairs: id -> smallest id of its component. */
  private def components(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(id => id -> find(id)).toMap
  }

  override def facts: Map[String, Any] = Map("documents" -> texts.size,
    "queries" -> NumQueries, "k" -> K, "brute_digest" -> bruteDigest, "data_dir" -> dataDir,
    "oracle_sql" -> SparkEntry.oracleSql.filter(kv => RegistryQueries.contains(kv._1))) ++
    results.map { case (k, v) => k -> v }
}
