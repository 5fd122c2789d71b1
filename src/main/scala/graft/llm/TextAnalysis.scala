package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token statistics, quality
  * signals, language-ID heuristic, document fingerprints. Everything is a
  * pure per-row projection (no shuffle at all — scales embarrassingly),
  * all codegen'd expressions, no UDFs.
  */
object TextAnalysis {

  private val tokens = (c: Column) => split(c, " ")

  /** THE quality composite — length saturation (0.5) + content-word
    * ratio (0.3) + alphabetic density (0.2), rounded to 6. Single
    * definition shared by q_quality_score and q_rerank so the blend
    * weights, the stoplist, and the density regex cannot drift apart;
    * [[qualityScoreSql]] is the same expression rendered for the
    * DuckDB oracle side.
    */
  def qualityScore(text: Column): Column = {
    val tok = tokens(text)
    val stops = filter(tok, x => x === "the" || x === "a")
    round(
      least(lit(1.0), length(text) / 500.0) * 0.5 +
      (lit(1.0) - size(stops) * lit(1.0) / size(tok)) * 0.3 +
      (length(regexp_replace(text, "[^a-z]", "")) * lit(1.0) /
        length(text)) * 0.2, 6)
  }

  /** DuckDB rendering of [[qualityScore]] over text expression `c` —
    * keep term order and shapes identical so both engines emit the
    * same doubles before the round. */
  def qualityScoreSql(c: String): String =
    s"""round(
       |   least(1.0, length($c) / 500.0) * 0.5
       | + (1.0 - len(list_filter(string_split($c,' '), x -> x IN ('the','a'))) * 1.0
       |       / len(string_split($c,' '))) * 0.3
       | + (length(regexp_replace($c, '[^a-z]', '', 'g')) * 1.0 / length($c)) * 0.2
       | , 6)""".stripMargin

  /** Whitespace token count + a BPE-ish regex token count + stopword
    * signals — the quality-scoring feature row.
    */
  def textStats(docs: DataFrame): DataFrame = {
    val tok = tokens(col("text"))
    val stops = filter(tok, x => x === "the" || x === "a")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_computed"),
      size(tok).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("n_word_tokens"),
      size(stops).cast("long").as("n_stopwords"),
      round(size(stops) * lit(1.0) / size(tok), 6).as("stopword_ratio"))
  }

  /** Marker-token sets per language for the n-gram language-ID heuristic.
    * Deliberately tiny: real pipelines plug a model here; the engine
    * contract is the scoring/argmax plumbing, which is what scales.
    */
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID: score = marker hits per language, argmax via sorted
    * struct array (ties break on language code — deterministic). Output:
    * (doc_id, predicted_lang, score, confidence).
    */
  def languageId(docs: DataFrame): DataFrame = {
    val tok = tokens(col("text"))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(tok, x => markers.map(x === _).reduce(_ || _))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    docs.select(col("doc_id"),
      when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
        .as("predicted_lang"),
      best.getField("hits").as("score"),
      round(best.getField("hits") * lit(1.0) / size(tok), 6).as("confidence"))
  }

  /** Gopher-style composite quality rules: token count, repetition ratio
    * (top token frequency / tokens), alphabetic density — flags plus the
    * final keep decision (q_gopher_filter). `doc_id` is a key; rows with
    * a null id or text get no verdict.
    *
    * Everything is one per-row projection: the top token frequency is
    * the native [[graft.functions.TextExpressions.topNgramCount]] at
    * n = 1. The explode → groupBy(doc, token) → max(doc) → join-back
    * formulation it replaces gave the same counts through two shuffles
    * and a join (q_gopher_filter in the llm_curation pass: 4 → 2 jobs,
    * 8 → 2 generated classes).
    */
  def gopherFilter(docs: DataFrame, minTokens: Int = 30,
                   maxRepRatio: Double = 0.12,
                   minAlphaRatio: Double = 0.81): DataFrame = {
    val nTokens = size(split(col("text"), " "))
    val repRatio = col("max_tok") * lit(1.0) / nTokens
    val alphaRatio = length(regexp_replace(col("text"), "[^a-z]", "")) * lit(1.0) /
      length(col("text"))
    docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        graft.functions.TextExpressions.topNgramCount(col("text"), 1).as("max_tok"))
      .select(col("doc_id"), nTokens.cast("long").as("n_tokens"),
        round(repRatio, 6).as("rep_ratio"),
        round(alphaRatio, 6).as("alpha_ratio"),
        (nTokens < minTokens).as("too_short"),
        (repRatio > maxRepRatio).as("too_repetitive"),
        (alphaRatio < minAlphaRatio).as("low_alpha"),
        (nTokens >= minTokens && repRatio <= maxRepRatio &&
          alphaRatio >= minAlphaRatio).as("keep"))
  }

  /** Sliding-window token chunking with overlap (context packing):
    * chunk i covers tokens [i·stride+1, i·stride+window]; chunk count =
    * max(1, 1 + ceil((n-window)/stride)). One narrow explode — no
    * shuffle (q_chunk_docs).
    */
  def chunk(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    val nChunks = greatest(lit(1L),
      (ceil((size(col("tok")) - lit(window)) / lit(stride.toDouble)) + 1).cast("long"))
    val chunkTok = slice(col("tok"), col("chunk_idx") * stride + 1, lit(window))
    docs.select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("tok"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        size(chunkTok).cast("long").as("n_chunk_tokens"),
        array_join(chunkTok, " ").as("chunk_text"))
  }

  /** Winnowing-style rolling fingerprint: polynomial (Karp-Rabin) hash of
    * every w-token window, keep the minimum — stable under small edits
    * anywhere outside the minimal window (the property LlmSpec asserts).
    * The hash is explicit integer math — md5-derived 32-bit token hash,
    * Horner fold base 131 mod 1e9+7 — so any engine replays it
    * bit-identically (q_fingerprint_rolling is oracle-checked, unlike
    * the earlier engine-specific xxhash64 variant).
    */
  def rollingFingerprint(docs: DataFrame, window: Int = 8): DataFrame =
    windowHashRows(docs, window).groupBy("doc_id")
      .agg(min(col("fp")).as("fingerprint"), count(lit(1)).as("n_windows"))

  /** The distinct rolling-window hash SET per document (same replayable
    * integer family as [[rollingFingerprint]], which keeps only the
    * min): the exploded form that feeds cross-document overlap joins.
    * Short docs (< window tokens) contribute their whole-text hash so
    * identical short docs still collide.
    */
  def rollingWindowHashes(docs: DataFrame, window: Int = 8): DataFrame =
    windowHashRows(docs, window).distinct()

  /** One row per w-token window: (doc_id, Horner hash). This output is
    * fully materialized by its consumers, so the natural nested-HOF
    * formulation (fold per window inside a transform) would put
    * interpreted lambdas on the hot path — measured 10.7 s at sf0.1 vs
    * ~1 s for this shape: explode to (doc_id, pos, native md5-int token
    * hash), then the w-token Horner fold as `lag` window expressions
    * over a doc-partitioned sort — every operator codegen'd, one
    * shuffle on doc_id, identical integer values to the fold.
    */
  private def windowHashRows(docs: DataFrame, window: Int): DataFrame =
    windowHashPositions(docs, window).select("doc_id", "fp")

  /** [[windowHashRows]] with provenance: one row per w-token window as
    * (doc_id, pos, wlen, fp) where `pos` is the 0-based START token of
    * the window and `wlen` its token length (= window, except short docs
    * contribute one whole-text window of length n < window). The
    * positional form is what span-level consumers (exact-substring
    * coverage) need: knowing WHERE a duplicated window sits lets them
    * compute token coverage of the union of duplicated spans.
    */
  def windowHashPositions(docs: DataFrame, window: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1000000007L
    val tok = tokens(col("text"))
    def md5M(c: Column): Column = pmod(Dedup.md5Int(c), lit(M))
    // Short docs: one whole-text hash each — a bounded slice where the
    // interpreted fold touches < window elements per row.
    val short = docs.filter(size(tok) < window)
      .select(col("doc_id"), lit(0L).as("pos"),
        size(tok).cast("long").as("wlen"),
        aggregate(transform(tok, t => md5M(t)), lit(0L),
          (acc, x) => (acc * 131L + x) % M).as("fp"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val parts = (0 until window).map(j => lag(col("th"), window - 1 - j).over(w))
    val horner = parts.reduce((acc, x) => (acc * lit(131L) + x) % M)
    val long = docs.filter(size(tok) >= window)
      .select(col("doc_id"), posexplode(tok).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"), md5M(col("t")).as("th"))
      .select(col("doc_id"), col("pos"), horner.as("fp"))
      .filter(col("fp").isNotNull) // rows before the first complete window
      .select(col("doc_id"), (col("pos") - lit(window - 1)).cast("long").as("pos"),
        lit(window.toLong).as("wlen"), col("fp"))
    long.union(short)
  }

  /** Exact-substring duplication coverage (the span-removal signal from
    * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, public recipe): for each document, the
    * fraction of its tokens covered by some w-token window whose hash
    * occurs ≥2 times in the corpus (another doc OR a repeat within the
    * same doc — both are the memorization hazard the filter targets).
    *
    * Scale shape: window hashes are a narrow (doc_id, pos, fp)
    * projection; "duplicated" is one keyed count over fp (map-side
    * combining — never a pair join); coverage is a per-doc sort by pos
    * where the union-of-intervals length telescopes to
    * Σ min(wlen, pos − prev_pos) because every window has the same
    * length — one doc_id-partitioned window pass, no interval
    * materialization. Everything is the replayable md5-int/Horner
    * family, so the oracle re-runs the chain bit-identically.
    */
  def exactSubstrCoverage(docs: DataFrame, window: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = windowHashPositions(docs, window)
    val occ = rows.groupBy("fp").agg(count(lit(1)).as("occ"))
    val dup = rows.join(occ, "fp").filter(col("occ") >= 2)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val inc = least(col("wlen"), col("pos") - lag(col("pos"), 1).over(w))
    val cov = dup.select(col("doc_id"), col("pos"), col("wlen"))
      .withColumn("inc", coalesce(inc, col("wlen")))
      .groupBy("doc_id").agg(sum("inc").as("dup_tok"))
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tok"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("dup_tok"), lit(0L)) * lit(1.0) / col("n_tokens"),
          6).as("dup_coverage"))
  }
}
