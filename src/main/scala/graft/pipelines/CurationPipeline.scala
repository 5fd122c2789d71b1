package graft.pipelines

import graft.CheckpointStrategy.Ops._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}
import graft.ops.Expectations
import graft.ops.Expectations.{Drop, Expectation, Fail}

/** End-to-end training-data curation: the flow a corpus runs between raw
  * crawl and tokenizer, composed entirely from the engine's operators —
  *
  *   expectations → quality filter (Gopher rules) → near-dup removal
  *   (MinHash+LSH survivors) → sliding-window chunking
  *
  * Every stage is shuffle-bounded and driver-free (see the operator docs
  * for each stage's 100 TB shape); the pipeline adds provenance columns
  * so each emitted chunk traces back to its source document and the
  * quality signals that admitted it.
  */
object CurationPipeline {

  final case class Config(
      minTokens: Int = 30,
      maxRepRatio: Double = 0.12,
      minAlphaRatio: Double = 0.81,
      dedupThreshold: Double = 0.7,
      chunkTokens: Int = 64,
      chunkStride: Int = 48)

  final case class Result(chunks: DataFrame, obs: Observation,
                          expectations: Seq[Expectation]) {
    /** Arrival/violation counters — valid as soon as `run` returns (the
      * validated input is materialized inside `run`). */
    def metrics: Map[String, Long] = Expectations.violations(obs, expectations)
    def assertPassed(): Unit = Expectations.assertPassed(obs, expectations)
  }

  /** Build the curation flow over a `documents`-shaped frame
    * (doc_id, text, ...). The expectations stage materializes eagerly
    * (one dedicated execution): downstream dedup re-reads the validated
    * input several times anyway (sketch + verify + components), and a
    * lazy observation here is fragile — if AQE collapses an empty branch
    * of the dedup subplan, the stage carrying the metrics collector can
    * be skipped and the observation completes empty. Run an action on
    * `.chunks` for the final output.
    */
  def run(docs: DataFrame, cfg: Config = Config()): Result = {
    val exps = Seq(
      Expectation("doc_id_present", col("doc_id").isNotNull, Fail),
      Expectation("text_nonempty", length(col("text")) > 0, Drop))
    val obs = Observation()
    // (r19 measured: widening HERE loses — the pipeline is many small
    // stages whose per-task overhead on 32 tiny partitions outweighs
    // the parallelism; the CPU-heavy minhash stage widens itself inside
    // Dedup. 2.8s → 4.2s at sf0.1 with a top-level widen.)
    // r20 (guide §6, column pruning at the checkpoint boundary): only
    // (doc_id, text) flow past the expectations cut — every downstream
    // stage (gopher, minhash, chunking) and the pipeline's own output
    // derive from these two, so materializing the other source columns
    // (lang/source/n_chars on the documents fixture) through BOTH cuts
    // and five downstream subplan executions was pure checkpoint bytes.
    val checked = Expectations.withExpectations(
      docs.select("doc_id", "text"), obs, exps).cut()

    val quality = TextAnalysis.gopherFilter(checked,
      cfg.minTokens, cfg.maxRepRatio, cfg.minAlphaRatio)
    // The kept-set feeds FIVE subplan executions downstream (minhash
    // signature pass, both exact-verify shingle sides, the survivor
    // anti-join under each of the two chunk-stage consumers) — without
    // this checkpoint the gopher aggregation + join re-runs for every
    // one of them (4.4s → 2.5s warm at sf0.1 from this line; PLANS.md
    // "Curation pipeline").
    val kept = checked.join(
      quality.filter(col("keep"))
        .select("doc_id", "n_tokens", "rep_ratio", "alpha_ratio"), "doc_id")
      .cut()

    val deduped = Dedup.dedupSurvivors(kept,
      Dedup.minhashPairs(kept, cfg.dedupThreshold))

    val chunks = TextAnalysis.chunk(deduped, cfg.chunkTokens, cfg.chunkStride)
      .join(deduped.select("doc_id", "n_tokens", "rep_ratio", "alpha_ratio"), "doc_id")
    Result(chunks, obs, exps)
  }
}
