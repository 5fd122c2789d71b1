package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.OrderedPairsExpr
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkCounts, SparkEntry, TestSpark}

/** Job and generated-code budgets of the curation kernels, on a small
  * seeded corpus with planted near-duplicates: MinHash pairs, connected
  * components, dedup survivors, LSH and brute-force top-k. Every Spark
  * job pays a fixed driver floor, and every whole-stage body takes
  * Spark's bounded code cache two entries in local mode, so a rewrite
  * that adds a stage or a plan shape to these kernels fails here before
  * it shows in the benchmark. The bounds are upper bounds at the counts
  * the plans have today: a suite that ran earlier in the same JVM can
  * only lower the compile count.
  */
class LlmBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = Files.createTempDirectory("graft-llm-budget").toString

  /** 400 documents of 40 words over a 300-word vocabulary; every 8th is
    * a copy of its predecessor with one word changed, so near-duplicate
    * pairs and a few larger clusters exist. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(1013L)
    val vocab = (0 until 300).map(i => s"w$i")
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until 400).foreach { i =>
      if (i % 8 == 7) {
        val t = texts(i - 1).clone()
        t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
        texts += t
      } else texts += Array.fill(40)(vocab(rnd.nextInt(vocab.size)))
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    graft.Tables.documents(spark, dir)
  }

  /** 300 64-d embeddings around 12 gaussian centres, so LSH buckets
    * hold neighbours; the first 16 are the queries. */
  private lazy val (emb, queries) = {
    val rnd = new scala.util.Random(1014L)
    val centres = Array.fill(12, 64)(rnd.nextGaussian())
    val vecs = (0 until 300).map { i =>
      centres(i % 12).map(c => (c + 0.3 * rnd.nextGaussian()).toFloat)
    }
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings")
    val e = spark.read.parquet(s"$dir/embeddings")
    (e, e.filter(col("vec_id") < 16).select(col("vec_id").as("query_id"), col("embedding").as("qe")))
  }

  /** (result, jobs, compiled classes) of `body`. */
  private def measured[T](body: => T): (T, Int, Long) = {
    val ((r, jobs), classes) = SparkCounts.compilesDuring(SparkCounts.jobsDuring(spark)(body))
    (r, jobs, classes)
  }

  test("the curation kernels stay within their job and codegen budgets") {
    val (pairs, mhJobs, mhClasses) = measured {
      val df = Dedup.minhashPairs(docs, 0.7)
      (df.collect().map(r => (r.getLong(0), r.getLong(1))), df.queryExecution.executedPlan)
    }
    val pairsDf = pairs._1.toSeq.toDF("id1", "id2")
    assert(pairs._1.length >= 40, s"only ${pairs._1.length} planted pairs found")
    val (comps, ccJobs, ccClasses) =
      measured(Dedup.connectedComponents(pairsDf).collect())
    val (surv, survJobs, survClasses) =
      measured(Dedup.dedupSurvivors(docs, pairsDf).select("doc_id").collect())
    val (lsh, lshJobs, lshClasses) = measured {
      val df = Similarity.lshTopK(emb, queries, 10)
      (df.collect(), df.queryExecution.executedPlan)
    }
    val (brute, bruteJobs, bruteClasses) =
      measured(Similarity.bruteForceTopK(emb, queries, 10).collect())

    val jobs = Map("minhashPairs" -> mhJobs, "connectedComponents" -> ccJobs,
      "dedupSurvivors" -> survJobs, "lshTopK" -> lshJobs, "bruteForceTopK" -> bruteJobs)
    val classes = Map("minhashPairs" -> mhClasses, "connectedComponents" -> ccClasses,
      "dedupSurvivors" -> survClasses, "lshTopK" -> lshClasses, "bruteForceTopK" -> bruteClasses)
    info(s"jobs $jobs; generated classes $classes")

    // the outputs are sane
    assert(comps.map(_.getLong(0)).toSet == pairs._1.flatMap(p => Seq(p._1, p._2)).toSet)
    assert(surv.length == 400 - comps.count(r => r.getLong(0) != r.getLong(1)))
    assert(lsh._1.length > 16 * 5 && lsh._1.length <= 16 * 10 && brute.length == 16 * 10)

    // the bucket pairs are expanded once per MinHash run: the id list the
    // verify semi-joins on re-reads the pair shuffle instead of planning
    // a second expansion
    val expansions = collect(pairs._2) {
      case g: GenerateExec if g.generator.exists(_.isInstanceOf[OrderedPairsExpr]) => g
    }
    assert(expansions.size == 1, s"bucket pairs expanded ${expansions.size} times:\n${pairs._2}")
    // the LSH dedupe is a row filter, not an aggregate
    val aggs = collect(lsh._2) { case a: BaseAggregateExec => a.nodeName }
    assert(aggs.isEmpty, s"lshTopK plans aggregates ${aggs.mkString(", ")}:\n${lsh._2}")

    val overJobs = JobBudget.collect { case (k, b) if jobs(k) > b => s"$k ${jobs(k)} > $b" }
    assert(overJobs.isEmpty, s"job budget exceeded: ${overJobs.mkString(", ")} (all: $jobs)")
    val overClasses = ClassBudget.collect {
      case (k, b) if classes(k) > b => s"$k ${classes(k)} > $b"
    }
    assert(overClasses.isEmpty,
      s"codegen budget exceeded: ${overClasses.mkString(", ")} (all: $classes)")
  }

  test("q_dedup_threshold_sweep shares the whole MinHash pipeline in one action") {
    // its two sweep aggregates read the banding and verify stages through
    // ReusedExchange; a verify shape that breaks the reuse (or an eager
    // cut) runs the pipeline once per consumer and adds jobs here
    assert(docs.columns.contains("text")) // writes the corpus the query reads from `dir`
    val (rows, jobs, _) = measured(
      SparkEntry.queries("q_dedup_threshold_sweep")(spark, dir).collect())
    info(s"q_dedup_threshold_sweep: $jobs jobs")
    assert(rows.nonEmpty)
    assert(jobs <= SweepJobs, s"q_dedup_threshold_sweep ran $jobs jobs, budget $SweepJobs")
  }

  test("the MinHash verify broadcasts nothing when nothing fits Spark's broadcast threshold") {
    // the near-dup population is sized for corpus scale: the shingled
    // candidate docs are broadcast only under Spark's own threshold, and
    // with none (or a tiny one) the verify sort-merges to the same pairs
    def pairsOf(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val default = Dedup.minhashPairs(docs, 0.7)
    val expected = pairsOf(default)
    val reused = collect(default.queryExecution.executedPlan) {
      case r: ReusedExchangeExec if r.child.isInstanceOf[BroadcastExchangeExec] => r
    }
    assert(reused.nonEmpty, s"the shingle broadcast is not reused:\n${default.queryExecution.executedPlan}")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      for (threshold <- Seq("-1", "1024")) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        val df = Dedup.minhashPairs(docs, 0.7)
        assert(pairsOf(df) == expected, s"threshold $threshold")
        if (threshold == "-1") {
          val plan = df.queryExecution.executedPlan
          val bcasts = collect(plan) { case b: BroadcastExchangeExec => b }
          assert(bcasts.isEmpty, s"threshold -1 still broadcasts:\n$plan")
        }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Spark jobs per kernel call on this corpus (before the native pair
    * expansion, the single verify plan and the aggregate-free LSH dedupe:
    * 11, 4, 5, 6 and 3). */
  private val JobBudget = Map("minhashPairs" -> 7, "connectedComponents" -> 2,
    "dedupSurvivors" -> 3, "lshTopK" -> 5, "bruteForceTopK" -> 3)
  /** Generated classes a cold call of each kernel compiles (before: 44,
    * 11, 6, 29 and 6). */
  private val ClassBudget = Map("minhashPairs" -> 28L, "connectedComponents" -> 4L,
    "dedupSurvivors" -> 5L, "lshTopK" -> 20L, "bruteForceTopK" -> 4L)
  /** Spark jobs of one q_dedup_threshold_sweep collect on this corpus
    * (18 before the verify rewrite). */
  private val SweepJobs = 14
}
