package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** Eleventh LLM-curation tranche (round 13): retrieval and cleaning ops
  * beyond the token-level families already covered —
  *
  *  - **positional phrase search**: exact multi-word phrase matching via
  *    a positional postings list — the inverted-index op the
  *    q_hybrid_retrieval lexical side (bag-of-words BM25) cannot
  *    express, and the standard way contamination scans look for exact
  *    benchmark strings inside a crawl.
  *  - **filtered ANN**: metadata-constrained vector search (the
  *    vector-DB "filtered search" problem) — top-k within the probed
  *    IVF cells RESTRICTED to candidates whose label matches the
  *    query's, the pre-filter formulation that keeps recall when the
  *    constraint is selective.
  *  - **intra-document repetition strip**: remove repeated segments
  *    WITHIN each document keeping first occurrences (the C4
  *    "three-sentence dedup" granularity below q_boilerplate_strip's
  *    cross-document pass) — deliberately zero-shuffle: the whole op is
  *    scan-local array HOFs, proving cleaned bytes without a single
  *    exchange.
  *
  * Conventions as per QueryDef.scala: identical aliases both sides,
  * deterministic ORDER BY, floats rounded in-query, md5-int hashes for
  * byte-exactness proofs.
  */
object LlmQueries11 {
  import Tables._

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  private val SegWords = 4

  val all: Seq[QueryDef] = Seq(

    // Positional phrase search: the phrase set is the first 3 tokens of
    // each query doc (doc_id < 8) — a ≤24-row broadcast. The corpus side
    // is ONE positional-postings scan (doc_id, pos, tok); joining it to
    // the broadcast term table keeps only postings of phrase terms, so
    // the only shuffled rows are matching postings — O(corpus tokens)
    // scanned, O(matching postings) shuffled, independent of corpus
    // size beyond the scan, same scale shape as the inverted-index BM25
    // pass (PLANS.md). A phrase occurs at anchor a iff slot i matched at
    // position a+i for ALL slots: group by (query, doc, anchor = pos -
    // slot) and demand count(DISTINCT slot) = 3 — repeated tokens inside
    // a phrase ("a X a") just contribute postings to several anchors.
    q("q_phrase_search",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |  q AS (SELECT doc_id AS query_id,
        |      array_to_string(ws[1:3], ' ') AS phrase,
        |      ws[1] AS t0, ws[2] AS t1, ws[3] AS t2
        |    FROM d WHERE doc_id < 8 AND len(ws) >= 3),
        |  terms AS (SELECT query_id, phrase, 0 AS slot, t0 AS tok FROM q
        |    UNION ALL SELECT query_id, phrase, 1, t1 FROM q
        |    UNION ALL SELECT query_id, phrase, 2, t2 FROM q),
        |  p AS (SELECT doc_id, i AS pos, ws[i+1] AS tok
        |    FROM d, unnest(range(0, len(ws))) AS r(i)),
        |  anchors AS (SELECT t.query_id, t.phrase, p.doc_id,
        |      p.pos - t.slot AS anchor
        |    FROM p JOIN terms t USING (tok)
        |    GROUP BY 1, 2, 3, 4 HAVING count(DISTINCT t.slot) = 3)
        |SELECT query_id, phrase, doc_id,
        |  count(*)::BIGINT AS n_hits, min(anchor)::BIGINT AS first_pos
        |FROM anchors GROUP BY 1, 2, 3
        |ORDER BY query_id, doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d).select(col("doc_id"), split(col("text"), " ").as("ws"))
      val terms = docs.filter(col("doc_id") < 8 && size(col("ws")) >= 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(col("ws"), 1, 3), " ").as("phrase"),
          posexplode(slice(col("ws"), 1, 3)).as(Seq("slot", "tok")))
      val postings = docs.select(col("doc_id"),
        posexplode(col("ws")).as(Seq("pos", "tok")))
      postings.join(broadcast(terms), "tok")
        .groupBy(col("query_id"), col("phrase"), col("doc_id"),
          (col("pos") - col("slot")).as("anchor"))
        .agg(count_distinct(col("slot")).as("ns"))
        .filter(col("ns") === 3)
        .groupBy("query_id", "phrase", "doc_id")
        .agg(count(lit(1)).as("n_hits"), min("anchor").cast("long").as("first_pos"))
        .orderBy("query_id", "doc_id")
    },

    // Filtered ANN: queries vec_id < 10, constraint = same label as the
    // query. The corpus's label rides the IVF assignment pass itself
    // (ivfScoredWith keep=label) — constrained search never re-joins the
    // candidate set against the corpus-sized table to recover metadata;
    // the filter lands BEFORE the per-query top-k window, so the window
    // ranks only eligible candidates (pre-filter semantics: k results
    // that genuinely satisfy the constraint, not k unconstrained hits
    // minus the violators). Oracle replays the full trained quantizer
    // via the shared ivfCentroidCtes block (LlmQueries.scala).
    q("q_ann_filtered", {
      val cos = "list_dot_product(a.e, q.qe) / sqrt(a.vsq * q.qsq)"
      s"""WITH ${LlmQueries.ivfCentroidCtes},
         |assigned AS (SELECT vec_id, e, vsq, centroid_id FROM (
         |  SELECT v.vec_id, v.e, v.vsq, c.centroid_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${LlmQueries.ivfD2("v.e", "v.vsq")}, c.centroid_id) AS rn
         |  FROM v CROSS JOIN cents c) t WHERE rn = 1),
         |probes AS (SELECT query_id, qe, qsq, centroid_id FROM (
         |  SELECT v.vec_id AS query_id, v.e AS qe, v.vsq AS qsq, c.centroid_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${LlmQueries.ivfD2("v.e", "v.vsq")}, c.centroid_id) AS rn
         |  FROM v CROSS JOIN cents c WHERE v.vec_id < 10) t WHERE rn <= 2),
         |scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |    el.label AS label, round($cos, 6) AS cosine
         |  FROM assigned a JOIN probes q USING (centroid_id)
         |  JOIN embeddings el ON el.vec_id = a.vec_id
         |  JOIN embeddings ql ON ql.vec_id = q.query_id
         |  WHERE a.vec_id <> q.query_id AND el.label = ql.label),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
         |SELECT query_id, neighbor_id, label, cosine, rn FROM ranked
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
    }) { (s, d) =>
      val emb = embeddings(s, d)
      val n = emb.count()
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val qLabels = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
      val cents = Similarity.ivfCentroids(emb, n)
      val scored = Similarity.ivfScoredWith(emb, qs, cents, nProbe = 2,
        keep = Seq("label"))
      val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
      scored.join(broadcast(qLabels), "query_id")
        .filter(col("label") === col("qlabel"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("query_id", "neighbor_id", "label", "cosine", "rn")
        .orderBy("query_id", "rn")
    },

    // Intra-doc repetition strip: zero-shuffle by construction — the
    // segment list, the keep-first pass, the rebuild, and the md5 proof
    // are all scan-local expressions. Two O(L²) traps fixed in round 14
    // (SCALE.md "q_selfrep_strip: TWO quadratics removed, measured"):
    //  1. the keep-first fold was an aggregate HOF with an
    //     array_contains accumulator — O(L²) comparisons; replaced by
    //     array_sort by (seg, idx) → adjacent-dedup → re-sort by idx,
    //     O(L log L);
    //  2. the word-split lived INSIDE the segment-building lambda, so
    //     interpreted HOF evaluation re-split the whole document per
    //     segment — O(L²/SegWords) hidden in what looked like a linear
    //     build. Each stage now materializes as its OWN projection
    //     column, so lambdas reference attributes (O(1) per element).
    //     The stage columns are referenced ≥2× downstream, which is
    //     what stops CollapseProject from inlining the expensive
    //     expressions back into the lambdas.
    // The oracle proves the same semantics through the exploded
    // min(seg_idx)-per-segment formulation; equality pins that the pass
    // keeps exactly the first occurrence of every distinct segment in
    // order.
    q("q_selfrep_strip",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |    FROM documents WHERE strlen(text) > 0),
        |  segs AS (SELECT doc_id, i AS seg_idx,
        |      array_to_string(ws[i*$SegWords+1 : i*$SegWords+$SegWords], ' ') AS seg
        |    FROM d, unnest(range(0, (len(ws)+${SegWords - 1})//$SegWords)) AS r(i)),
        |  firsts AS (SELECT doc_id, seg, min(seg_idx) AS first_idx,
        |      count(*)::BIGINT AS cnt
        |    FROM segs GROUP BY 1, 2),
        |  rebuilt AS (SELECT doc_id,
        |      sum(cnt)::BIGINT AS n_segs,
        |      sum(cnt - 1)::BIGINT AS n_dupes,
        |      string_agg(seg, ' ' ORDER BY first_idx) AS clean
        |    FROM firsts GROUP BY doc_id)
        |SELECT doc_id, n_segs, n_dupes,
        |  strlen(clean)::BIGINT AS n_bytes_clean,
        |  ('0x' || substr(md5(clean), 1, 8))::BIGINT AS h_clean
        |FROM rebuilt ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nSegs = ((size(col("_ws")) + lit(SegWords - 1)) / lit(SegWords))
        .cast("int")
      documents(s, d).filter(length(col("text")) > 0)
        .withColumn("_ws", split(col("text"), " "))
        .withColumn("_segs", transform(sequence(lit(0), nSegs - 1),
          i => array_join(slice(col("_ws"), i * SegWords + 1, lit(SegWords)), " ")))
        .withColumn("_by_seg", array_sort(transform(col("_segs"),
          (s0, i) => struct(s0.as("seg"), i.as("idx")))))
        // adjacent-dedup on the (seg, idx)-sorted list: element i
        // survives iff it's the first of its segment run. `when` guards
        // the i = 0 probe — element_at(_, 0) is an error under ANSI.
        .withColumn("_kept", transform(
          array_sort(transform(
            filter(col("_by_seg"), (x, i) =>
              when(i === 0, lit(true))
                .otherwise(element_at(col("_by_seg"), i).getField("seg") =!=
                  x.getField("seg"))),
            x => struct(x.getField("idx").as("idx"),
              x.getField("seg").as("seg")))),
          x => x.getField("seg")))
        .withColumn("clean", array_join(col("_kept"), " "))
        .select(col("doc_id"),
          size(col("_segs")).cast("long").as("n_segs"),
          (size(col("_segs")) - size(col("_kept"))).cast("long").as("n_dupes"),
          octet_length(col("clean")).cast("long").as("n_bytes_clean"),
          Dedup.md5Int(col("clean")).as("h_clean"))
        .orderBy("doc_id")
    },

    // Range-partitioned sorted export: K shards such that concatenating
    // shard 0..K-1 yields a globally length-ordered corpus — WITHOUT a
    // global sort. The trick: shard boundaries come from the LENGTH
    // HISTOGRAM, whose cardinality is bounded by the max document
    // length, never by corpus size — so the prefix-sum window runs over
    // a bounded input (PlanLint-allowlisted, the q_vocab_growth class)
    // and the (length → shard) map broadcasts at any scale. A doc's
    // shard is floor(K·|docs shorter than it| / N): monotone in length
    // (the order proof is visible in the manifest: hi_chars of shard i
    // ≤ lo_chars of shard i+1), ties share a shard, sizes stay ~N/K.
    // This is Spark's repartitionByRange made deterministic — sampled
    // range boundaries can't be oracle-replayed; exact histogram
    // boundaries can. Per-shard checksum = the commutative per-doc md5
    // sum (the q_export_shards manifest contract).
    q("q_range_export",
      """WITH docs AS (SELECT doc_id, n_chars,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h FROM documents),
        |  hist AS (SELECT n_chars, count(*)::BIGINT AS cnt FROM docs GROUP BY 1),
        |  tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM hist),
        |  mapped AS (SELECT n_chars,
        |      CAST(floor(8 * coalesce(sum(cnt) OVER (ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        / (SELECT n_total FROM tot)) AS BIGINT) AS shard_id
        |    FROM hist)
        |SELECT m.shard_id, count(*)::BIGINT AS n_docs,
        |  min(d.n_chars)::BIGINT AS lo_chars, max(d.n_chars)::BIGINT AS hi_chars,
        |  sum(d.h)::BIGINT AS checksum
        |FROM docs d JOIN mapped m USING (n_chars)
        |GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
        .select(col("doc_id"), col("n_chars"), Dedup.md5Int(col("text")).as("h"))
      val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val tot = hist.agg(sum("cnt").as("n_total"))
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
      val mapped = hist
        .withColumn("cum_before", coalesce(sum("cnt").over(w), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("n_chars"),
          floor(lit(8) * col("cum_before") / col("n_total")).as("shard_id"))
      docs.join(broadcast(mapped), "n_chars")
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").cast("long").as("lo_chars"),
          max("n_chars").cast("long").as("hi_chars"),
          sum("h").as("checksum"))
        .orderBy("shard_id")
    }
  )
}
