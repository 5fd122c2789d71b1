package graft

import graft.CheckpointStrategy.Ops._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}

/** Fifth LLM-curation tranche: winnowing-sparsified overlap detection
  * (the production-scale form of the fingerprint overlap join) and
  * CCNet-style text normalization.
  */
object LlmQueries5 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  val all: Seq[QueryDef] = Seq(

    // Winnowing-sparsified cross-document overlap (Schleimer et al.
    // 2003's guarantee, stride-bucket form): instead of joining EVERY
    // rolling window hash (q_fingerprint_overlap's shape), each doc
    // keeps one representative per stride of 16 positions — the bucket
    // minimum — shrinking the join input ~16× while still detecting
    // any shared run long enough to span a stride boundary. This is
    // the sparsification the overlap join runs with at corpus scale;
    // the dense variant stays as ground truth. Same replayable hash
    // family, so the oracle re-runs selection AND join bit-identically.
    // Candidates route through the SAME capped-bucket machinery as the
    // LSH/chunk-semdedup siblings (r9 verdict): a fingerprint shared by
    // k docs would emit k² pairs, and at corpus scale boilerplate
    // guarantees hot fingerprints — buckets larger than 1000 docs are
    // dropped, and the drop is NEVER silent: every output row carries
    // `n_dropped_buckets` (a 1-row aggregate broadcast), so a run that
    // hit the cap says so in the result itself. The oracle mirrors the
    // cap (HAVING ≤ 1000) and the dropped count exactly.
    q("q_winnow_overlap",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |h AS (SELECT doc_id, len(tok) AS n,
        |  [('0x' || substr(md5(x), 1, 8))::BIGINT % 1000000007 for x in tok] AS th
        |  FROM t),
        |w AS (SELECT doc_id, n,
        |  CASE WHEN n >= 8
        |    THEN [list_reduce(th[i+1:i+8], (acc, x) -> (acc*131 + x) % 1000000007)
        |          for i in range(0, n - 7)]
        |    ELSE [list_reduce(th, (acc, x) -> (acc*131 + x) % 1000000007)]
        |  END AS wh FROM h),
        |e AS (SELECT doc_id, i // 16 AS stride, wh[i+1] AS fp
        |  FROM w, unnest(range(0, len(wh))) AS u(i)),
        |sparse AS (SELECT DISTINCT doc_id, min(fp) AS fp
        |  FROM e GROUP BY doc_id, stride),
        |bk AS (SELECT fp, count(*) AS k FROM sparse GROUP BY 1),
        |dropped AS (SELECT count(*) FILTER (WHERE k > 1000)::BIGINT
        |  AS n_dropped_buckets FROM bk)
        |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared,
        |  any_value(dropped.n_dropped_buckets) AS n_dropped_buckets
        |FROM sparse a JOIN sparse b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |JOIN bk ON bk.fp = a.fp AND bk.k <= 1000
        |CROSS JOIN dropped
        |GROUP BY id1, id2
        |UNION ALL
        |SELECT (-1)::BIGINT, (-1)::BIGINT, 0::BIGINT, n_dropped_buckets
        |FROM dropped
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val sparse = TextAnalysis.windowHashPositions(documents(s, d), 8)
        .groupBy(col("doc_id"), (col("pos") / 16).cast("long").as("stride"))
        .agg(min("fp").as("fp"))
        .select("doc_id", "fp").distinct()
        .cut() // feeds kept buckets and the dropped count
      // one fp-keyed shuffle builds the buckets; in-bucket pair
      // expansion replaces the uncapped self-join (Dedup.bucketPairs
      // shape), so a hot fingerprint can never emit k² join rows
      val buckets = sparse.groupBy("fp")
        .agg(array_sort(collect_list(struct(col("doc_id")))).as("xs"))
      val nDropped = buckets
        .agg(coalesce(sum(when(size(col("xs")) > 1000, 1L).otherwise(0L)),
          lit(0L)).as("n_dropped_buckets"))
      // shared pair-expansion helper (Dedup.orderedPairs) — one
      // implementation of the combination idiom across the engine
      buckets.filter(size(col("xs")).between(2, 1000))
        .select(explode(Dedup.orderedPairs(col("xs"))).as("p"))
        .select(col("p.b1").as("id1"), col("p.b2").as("id2"))
        .groupBy("id1", "id2")
        .agg(count(lit(1)).as("shared"))
        .crossJoin(broadcast(nDropped))
        // sentinel summary row: the cap count stays observable even if
        // NO pair survives (the total-drop corpus), so the cap is never
        // silent — the loud-cap contract this query documents
        .unionByName(nDropped.select(lit(-1L).as("id1"), lit(-1L).as("id2"),
          lit(0L).as("shared"), col("n_dropped_buckets")))
        .orderBy("id1", "id2")
    },

    // Per-source vocabulary drift: KL(source unigram ‖ corpus unigram)
    // — the domain-similarity score a curation pipeline uses to weight
    // sources toward a target distribution (the text-domain sibling of
    // q_psi_drift's numeric-bucket drift). Shape: one (source, token)
    // keyed aggregation + one token-keyed corpus aggregation, joined on
    // token — bounded by vocabulary, never by corpus size; the two
    // 1-row totals broadcast. Shares are exact integer ratios; the
    // conventional 1e-6 clamp keeps the log total; round(6) absorbs
    // libm ln ulp skew (q_psi_drift precedent).
    q("q_kl_source",
      """WITH st AS (SELECT source, w, count(*) AS c FROM
        |    (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2),
        |ct AS (SELECT w, sum(c) AS cc FROM st GROUP BY 1),
        |sn AS (SELECT source, sum(c)::BIGINT AS ns FROM st GROUP BY 1),
        |n AS (SELECT sum(cc)::BIGINT AS nc FROM ct)
        |SELECT st.source, count(*) AS n_terms,
        |  round(sum(
        |    (st.c * 1.0 / sn.ns) *
        |    ln(greatest(st.c * 1.0 / sn.ns, 0.000001) /
        |       greatest(ct.cc * 1.0 / n.nc, 0.000001))), 6) AS kl_divergence
        |FROM st JOIN ct USING (w) JOIN sn USING (source) CROSS JOIN n
        |GROUP BY st.source ORDER BY st.source""".stripMargin) { (s, d) =>
      val st = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .cut() // feeds corpus totals, source totals, and the join
      val ct = st.groupBy("w").agg(sum("c").as("cc"))
      val sn = st.groupBy("source").agg(sum("c").as("ns"))
      val n = ct.agg(sum("cc").as("nc"))
      st.join(ct, "w").join(sn, "source").crossJoin(broadcast(n))
        .groupBy("source")
        .agg(count(lit(1)).as("n_terms"),
          round(sum((col("c") * lit(1.0) / col("ns")) *
            log(greatest(col("c") * lit(1.0) / col("ns"), lit(0.000001)) /
              greatest(col("cc") * lit(1.0) / col("nc"), lit(0.000001)))), 6)
            .as("kl_divergence"))
        .orderBy("source")
    },

    // Out-of-vocabulary rate against a fixed reference vocabulary (the
    // corpus's top-1024 tokens by occurrence count desc, token-text
    // tiebreak — fully deterministic): the tokenizer-coverage question
    // every pipeline asks before committing to a vocab. The reference
    // vocab is a bounded sort+limit (TakeOrdered — never a global
    // window), broadcast to a per-doc anti-membership count; per-source
    // rollup ends the pipeline. All-integer ratios until the final
    // rounded division.
    q("q_oov_rate",
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vc AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT w FROM vc ORDER BY c DESC, w LIMIT 1024),
        |d AS (SELECT tok.doc_id, tok.source, count(*) AS n_tok,
        |    sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM tok LEFT JOIN vocab ON tok.w = vocab.w
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  sum(n_tok)::BIGINT AS n_tokens, sum(n_oov)::BIGINT AS n_oov,
        |  round(sum(n_oov) * 1.0 / sum(n_tok), 6) AS oov_rate
        |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(1024)
        .select(col("w"), lit(1).as("in_vocab"))
      val docOov = tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      docOov.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum("n_oov").as("n_oov"),
          round(sum("n_oov") * lit(1.0) / sum("n_tok"), 6).as("oov_rate"))
        .orderBy("source")
    },

    // CCNet-style text normalization: lowercase, strip non-alphanumeric
    // characters, collapse whitespace — the canonical form exact dedup
    // and fingerprinting run on in public curation pipelines (CCNet's
    // normalization step before paragraph hashing). Pure per-row
    // projection (zero shuffle); emits before/after sizes so the
    // normalization loss is observable, plus the md5-int hash of the
    // normalized form — the dedup key downstream stages would use.
    q("q_text_normalize",
      """SELECT doc_id,
        |  length(text)::BIGINT AS n_chars_raw,
        |  length(norm)::BIGINT AS n_chars_norm,
        |  len(string_split(norm, ' '))::BIGINT AS n_tokens_norm,
        |  ('0x' || substr(md5(norm), 1, 8))::BIGINT AS norm_hash
        |FROM (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      documents(s, d)
        .withColumn("norm", norm)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_raw"),
          length(col("norm")).cast("long").as("n_chars_norm"),
          size(split(col("norm"), " ")).cast("long").as("n_tokens_norm"),
          graft.llm.Dedup.md5Int(col("norm")).as("norm_hash"))
        .orderBy("doc_id")
    }
  )
}
