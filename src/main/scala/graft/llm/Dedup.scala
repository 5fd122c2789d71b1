package graft.llm

import graft.CheckpointStrategy.Ops._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines.
  *
  * Three families, all shuffle-bounded and driver-free:
  *  - exact: group on a content hash (see LlmQueries.q_dedup_exact) — the
  *    shuffle key is 16–32 bytes/row regardless of document size;
  *  - MinHash+LSH: shingle → k minhashes → b bands → band-bucket
  *    grouping. Candidate pairs are generated ONLY within equal band
  *    buckets, so work stays ~linear in corpus size (an all-pairs cross
  *    join at 100 TB is never constructed);
  *  - SimHash: 64-bit signature, banded bucketing, Hamming verify.
  *
  * Physical-shape notes (measured on this engine, see PLANS.md "Dedup sketches"):
  *  - Signatures use explode + grouped min/sum aggregation, NOT
  *    higher-order-function projections: Spark HOF lambdas
  *    (`transform`/`aggregate`) evaluate interpreted (no codegen) and are
  *    ~10× slower than the codegen'd aggregate path at these widths. Each
  *    shingle string is hashed ONCE; the k-permutation family rehashes
  *    the resulting long, which is cheap and codegen'd.
  *  - Candidate pairs come from `collect_list` per bucket + in-expression
  *    combinations — one shuffle, no bucket self-join (a self-join
  *    re-evaluates the whole signature subtree on both sides).
  *  - Verification joins broadcast the (tiny) candidate set so document
  *    payloads never shuffle.
  *
  * Skew control at scale: a degenerate bucket ("the the the" shingles)
  * would explode combinatorially; buckets larger than `maxBucket` are
  * dropped — the standard stop-shingle mitigation (logged cap, SURVEY
  * no-silent-caps rule: the cap is a parameter, not a hidden constant).
  */
object Dedup {

  /** Exact word-set Jaccard for all pairs sharing ≥1 token. Exact but
    * quadratic in the worst case — callers bound the input (or use the
    * sketch variants); this is the oracle-checkable ground truth.
    */
  def wordJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val w = docs.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
    val sizes = w.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = w.as("a")
      .join(w.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("overlap"))
    inter
      .join(sizes.select(col("doc_id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard",
        col("overlap") * lit(1.0) / (col("sz1") + col("sz2") - col("overlap")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Distinct word n-gram shingles as an array column (whole text when
    * the document is shorter than n tokens). Native single-loop
    * expression — the HOF formulation (transform+slice+array_join) is
    * interpreted per element and O(n²) in allocations
    * (org.apache.spark.sql.graft.ShinglesExpr).
    */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      org.apache.spark.sql.graft.ShinglesExpr(GraftColumnBridge.expression(text), n))
  }

  /** Prime modulus for the replayable hash family (minhash permutations,
    * band buckets): all arithmetic stays well under 2^63, so any
    * overflow-checking engine (DuckDB) computes the identical values. */
  val HashP: Long = 1000000007L

  /** i-th minhash permutation constants (a, b) for h → (a·h + b) mod
    * [[HashP]]. Pure arithmetic in i — the oracle SQL interpolates the
    * same values, so both engines share one hash family by construction.
    */
  def permConstants(i: Int): (Long, Long) =
    (math.max(1L, (2654435761L * (i + 1)) % HashP),
      (40503L * (i + 1) + 17) % HashP)

  /** Replayable 32-bit hash: md5 digest bytes [4o, 4o+4) as a long —
    * md5 is the one hash both Spark and DuckDB expose bit-identically
    * (xxhash64 is engine-specific → rows-only forever). Computed by the
    * fused native expression (one digest call, no hex-string round
    * trip — the conv(substr(md5(...))) formulation measured ~1.4×
    * slower on the minhash pipeline).
    */
  def md5Int(c: Column, byteOffset: Int = 0): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(org.apache.spark.sql.graft.Md5IntExpr(
      GraftColumnBridge.expression(c), byteOffset))
  }

  // (r19 measured: widening the shingle exploders inside bandedMinhash
  // LOSES — the one-task scan's map-side partial min-aggregation already
  // compresses to tiny per-doc signatures before any shuffle, so
  // repartitioning the raw text first costs more than the parallelism
  // returns: q_dedup_minhash 1.14→1.31s, q_dedup_incremental
  // 2.73→4.06s, q_dedup_simhash 1.34→1.58s in same-order A/B at sf0.1.)

  /** Ordered in-bucket pair expansion over a SORTED member-struct array
    * (first struct field must be `doc_id`), kept when `keep(x, y)` —
    * THE single implementation of the slice/transform combination idiom,
    * shared by [[bucketPairs]] and the incremental variant so cap and
    * expansion semantics cannot drift apart by-convention. */
  private[graft] def expandPairs(xs: Column, keep: (Column, Column) => Column): Column =
    flatten(transform(xs, (x, i) =>
      filter(
        transform(slice(xs, i + lit(2), size(xs) - i - 1),
          y => struct(
            x.getField("doc_id").as("id1"),
            y.getField("doc_id").as("id2"),
            keep(x, y).as("keep"))),
        p => p.getField("keep"))))

  /** All in-bucket pairs via collect_list + combination expansion —
    * replaces a bucket self-join (one shuffle instead of two plan
    * evaluations + join + distinct). Bucket arrays are tiny (≤maxBucket),
    * so the interpreted HOF here touches trivially few elements.
    */
  private def bucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val buckets = banded.groupBy("band", "bucket")
      .agg(array_sort(collect_list(struct(col("doc_id")))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
    buckets.select(explode(expandPairs(col("xs"), (_, _) => lit(true))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * numHashes minhash permutations via the replayable linear hash
    * family (one codegen'd grouped aggregation), `bands` bands of
    * `numHashes/bands` rows each. Docs colliding in ≥1 band become
    * candidates; candidates are verified with exact n-gram Jaccard and
    * filtered at `threshold`. Every step is deterministic integer math
    * (md5-int shingle hash, (a·h+b) mod P permutations, Horner band
    * buckets), so the DuckDB oracle replays the WHOLE pipeline —
    * candidates, caps, and verify — with list comprehensions.
    */
  /** (doc_id, band, bucket) LSH banding of the replayable minhash
    * signature — the persistable "signature store" unit: banding a doc
    * depends only on the doc's own text, so corpus and batch sides of an
    * incremental run can be banded independently (or read back from a
    * store) and still collide identically.
    */
  private def bandedMinhash(docs: DataFrame, shingleN: Int,
                            numHashes: Int, bands: Int,
                            carry: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")

    val mhCols = (0 until numHashes).map { i =>
      val (a, b) = permConstants(i)
      min((col("h") * a + b) % HashP).as(s"mh$i")
    }
    // `carry` columns (functionally dependent on doc_id — e.g. the
    // incremental batch flag) ride the signature aggregation's group
    // key, so a tagged union needs only ONE banding pass (r20).
    val keyCols = col("doc_id") +: carry.map(col)
    val hashed = docs
      .select(keyCols :+ explode(shingles(col("text"), shingleN)).as("shingle"): _*)
      .select(keyCols :+ md5Int(col("shingle")).as("h"): _*)
    val sigs = hashed.groupBy("doc_id", carry: _*)
      .agg(mhCols.head, mhCols.tail: _*)

    val bandHashes = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      rows.reduce((acc, x) => (acc * 131L + x) % HashP)
    }
    sigs.select(keyCols :+
      posexplode(array(bandHashes: _*)).as(Seq("band", "bucket")): _*)
  }

  /** Exact shingle-Jaccard verification of a (tiny, ~linear) candidate
    * pair set. Candidates are broadcast so document payloads never
    * shuffle, and the corpus is semi-joined to candidate ids BEFORE
    * shingling, so the verify pass re-shingles only docs appearing in
    * some candidate pair (~the near-dup population) — at 100 TB the
    * difference between two extra full corpus passes and two passes over
    * the dup fraction.
    */
  private def verifyJaccard(docs: DataFrame, candidates: DataFrame,
                            shingleN: Int, threshold: Double): DataFrame = {
    // (r20 measured: cutting `candidates` here is a net LOSS. The two
    // broadcast builds below DO duplicate the banding subtree, but they
    // run as concurrent broadcast futures inside one action — wall-
    // neutral (minhash −0.11, survivors −0.13, embedding +0.08 in a
    // 2×2-JVM A/B) — while the eager cut breaks whole-plan exchange
    // reuse for multi-consumer callers: q_dedup_threshold_sweep's two
    // sweep aggregates share the entire pipeline via ReusedExchange in
    // ONE action, 0.26 s, and the cut forced three actions, 1.2 s.)
    val candIds = candidates
      .select(explode(array(col("id1"), col("id2"))).as("doc_id")).distinct()
    val withShingles = docs
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text"), shingleN).as("sh"))
    val sh1 = withShingles.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val sh2 = withShingles.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    broadcast(candidates).join(sh1, "id1").join(sh2, "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))) * lit(1.0) /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  def minhashPairs(docs: DataFrame, threshold: Double, shingleN: Int = 3,
                   numHashes: Int = 32, bands: Int = 8,
                   maxBucket: Int = 1000): DataFrame = {
    val banded = bandedMinhash(docs, shingleN, numHashes, bands)
    val candidates = bucketPairs(banded, maxBucket)
    verifyJaccard(docs, candidates, shingleN, threshold)
  }

  /** Incremental MinHash+LSH dedup: near-dup pairs of a NEW batch
    * against an already-deduped corpus (and within the batch itself),
    * never corpus×corpus. This is the operational shape at 100 TB — the
    * corpus is deduped once, its banded signatures persist as a store,
    * and each arriving batch is banded (cost ∝ batch), bucket-joined
    * against the store, and verified only on pairs with ≥1 batch
    * endpoint. Re-running the full corpus×corpus pipeline per batch
    * would make ingestion cost ∝ corpus instead of ∝ batch.
    *
    * Identity contract (what the oracle exploits): banding is per-doc,
    * and the bucket-size cap counts corpus+batch members together, so
    * the emitted pair set is EXACTLY the full-corpus [[minhashPairs]]
    * output filtered to pairs with ≥1 batch endpoint.
    *
    * `corpus` and `batch` must have disjoint `doc_id`s (loud check at
    * plan level is the caller's: ids are the store's primary key).
    */
  def minhashPairsIncremental(corpus: DataFrame, batch: DataFrame,
                              threshold: Double, shingleN: Int = 3,
                              numHashes: Int = 32, bands: Int = 8,
                              maxBucket: Int = 1000): DataFrame = {
    // One banding pass over the tagged union (r20): banding is per-doc,
    // so banding corpus∪batch with an is_new flag on the group key is
    // value-identical to banding the sides separately (the store path,
    // [[minhashPairsFromStore]], still bands them separately — there the
    // corpus side comes back from a PERSISTED store, which is the
    // production shape). Inline recomputation paid two scans + two
    // signature aggregations for the same rows; the fused pass pays one
    // of each (plan: two HashAggregate subtrees + union → one).
    val tagged = corpus.withColumn("is_new", lit(false))
      .unionByName(batch.withColumn("is_new", lit(true)))
    val banded = bandedMinhash(tagged, shingleN, numHashes, bands,
      carry = Seq("is_new"))
    verifyJaccard(corpus.unionByName(batch),
      incrementalCandidates(banded, maxBucket), shingleN, threshold)
  }

  /** The persistable dedup index: (doc_id, band, bucket) banded minhash
    * signatures. Banding depends only on the doc's own text, so a store
    * written at ingest time collides identically with signatures
    * computed later for a new batch — write this to a versioned table
    * once per ingest, and [[minhashPairsFromStore]] never touches the
    * corpus text again except to verify candidates. O(bands) rows of a
    * few longs per doc, regardless of document size.
    */
  def minhashSignatureStore(docs: DataFrame, shingleN: Int = 3,
                            numHashes: Int = 32, bands: Int = 8): DataFrame =
    bandedMinhash(docs, shingleN, numHashes, bands)

  /** [[minhashPairsIncremental]] with the corpus side read from a
    * persisted signature store. `corpus` is consulted ONLY to fetch the
    * text of docs that appear in some candidate pair (a semi-join on
    * candidate ids inside the verify step) — the full corpus text is
    * never re-shingled, which is the point of persisting signatures.
    */
  def minhashPairsFromStore(store: DataFrame, corpus: DataFrame,
                            batch: DataFrame, threshold: Double,
                            shingleN: Int = 3, numHashes: Int = 32,
                            bands: Int = 8, maxBucket: Int = 1000): DataFrame = {
    val banded = store.select(col("doc_id"), col("band"), col("bucket"))
      .withColumn("is_new", lit(false))
      .unionByName(
        bandedMinhash(batch, shingleN, numHashes, bands)
          .withColumn("is_new", lit(true)))

    verifyJaccard(corpus.unionByName(batch),
      incrementalCandidates(banded, maxBucket), shingleN, threshold)
  }

  /** In-bucket pairs as in [[bucketPairs]], but members carry the batch
    * flag and only combinations with ≥1 batch endpoint are expanded: a
    * bucket of c corpus docs and n batch docs emits n·(c+n) pairs,
    * never the c² corpus-internal ones. The cap is on TOTAL bucket size
    * (corpus+batch), mirroring the full pipeline bit-for-bit. Shared by
    * the inline and from-store incremental paths (r20). */
  private def incrementalCandidates(banded: DataFrame,
                                    maxBucket: Int): DataFrame = {
    val buckets = banded.groupBy("band", "bucket")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("is_new")))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
    buckets.select(explode(expandPairs(col("xs"),
        (x, y) => x.getField("is_new") || y.getField("is_new"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
  }

  /** 64-bit SimHash, materialized as four 16-bit parts (ANSI-safe: no
    * 64-bit accumulation that could overflow) — parts double as the LSH
    * bands. A pair is near-duplicate when total Hamming distance across
    * parts ≤ maxHamming; exact match on ≥1 part gates candidacy.
    */
  /** Signature features are n-gram shingles, not single words: over a
    * small vocabulary every document shares most words, so a word-level
    * simhash collapses (measured: 455k "near-dup" pairs across 5k docs);
    * 3-gram shingles keep the signature discriminative.
    */
  def simhashParts(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    // 64 feature bits from two replayable 32-bit md5 halves (digest
    // bytes 0-3 and 4-7) — same cross-engine hash contract as minhash,
    // so the whole simhash pipeline is oracle-checked too.
    val toks = docs
      .select(col("doc_id"), explode(shingles(col("text"), shingleN)).as("shingle"))
      .select(col("doc_id"),
        md5Int(col("shingle")).as("h1"), md5Int(col("shingle"), 4).as("h2"))
    // Per bit: count of set bits; majority (2c > n) is the signature
    // bit — algebraically identical to the classic Σ(±1) > 0 but the
    // aggregate update is a branch-free shift+and+add, which roughly
    // halves the janino compile time of this 65-aggregate plan.
    // Codegen'd grouped aggregation (HOF projections are interpreted).
    val bitSums = (0 until 64).map { i =>
      val src = if (i < 32) shiftright(col("h1"), i)
                else shiftright(col("h2"), i - 32)
      sum(src.bitwiseAND(lit(1L))).as(s"c$i")
    }
    val sums = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val parts = (0 until 4).map { p =>
      val bits = (0 until 16).map { b =>
        (when(col(s"c${p * 16 + b}") * 2 > col("n"), 1).otherwise(0) * lit(1 << b))
      }
      bits.reduce(_ + _).as(s"part$p")
    }
    sums.select(col("doc_id") +: parts: _*)
  }

  /** Embedding-cosine near-duplicate pairs, exact: bounded all-pairs
    * with the native dot expression — the oracle-checkable ground truth.
    * Callers bound the input; the LSH variant below is the scale path.
    */
  def embeddingCosinePairsExact(embs: DataFrame, threshold: Double): DataFrame = {
    import graft.llm.Similarity.{dot, sumSq}
    val a = embs.select(col("vec_id").as("id1"), col("embedding").as("e1"),
      sumSq(col("embedding")).as("s1"))
    val b = embs.select(col("vec_id").as("id2"), col("embedding").as("e2"),
      sumSq(col("embedding")).as("s2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", dot(col("e1"), col("e2")) / sqrt(col("s1") * col("s2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
  }

  /** Embedding-cosine near-dup at scale: random-hyperplane LSH buckets
    * (more, narrower bands than similarity search — recall over
    * precision since the exact cosine verify filters), candidates from
    * bucket combinations, exact verify. Never all-pairs.
    */
  def embeddingCosinePairsLsh(embs: DataFrame, threshold: Double,
                              numPlanes: Int = 16, bands: Int = 4,
                              maxBucket: Int = 1000): DataFrame = {
    import graft.llm.Similarity.{bandedSignature, dot, hyperplanes, sumSq}
    val planes = hyperplanes(numPlanes, dim = 64)
    val banded = embs.select(col("vec_id").as("doc_id"),
      posexplode(bandedSignature(col("embedding"), planes, bands))
        .as(Seq("band", "bucket")))
    // (r20: a cut() here measured wall-neutral — same concurrent-
    // broadcast-futures mechanism as verifyJaccard's note — reverted)
    val candidates = bucketPairs(banded, maxBucket)
    // Verify-side scans semi-join to the broadcast candidate ids BEFORE
    // computing norms (same shape as minhashPairs' verify): exact
    // re-scoring touches only vectors that appear in some candidate
    // pair — the near-dup population — not the whole corpus twice.
    val candIds = candidates
      .select(explode(array(col("id1"), col("id2"))).as("vec_id")).distinct()
    val cand = embs.join(broadcast(candIds), Seq("vec_id"), "left_semi")
    val a = cand.select(col("vec_id").as("id1"), col("embedding").as("e1"),
      sumSq(col("embedding")).as("s1"))
    val b = cand.select(col("vec_id").as("id2"), col("embedding").as("e2"),
      sumSq(col("embedding")).as("s2"))
    broadcast(candidates).join(a, "id1").join(b, "id2")
      .withColumn("cosine", dot(col("e1"), col("e2")) / sqrt(col("s1") * col("s2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
  }

  /** Per-ROW minhash content signature, folded to one 64-bit key: the
    * `numHashes` linear-permutation minhashes of the doc's shingle set
    * (same [[permConstants]]/[[md5Int]] family as [[minhashPairs]]),
    * Horner-combined base 131 mod [[HashP]]. Two identical texts always
    * collide; near-identical texts collide with minhash probability —
    * the content-level exact-dup gate.
    *
    * This is a projection (no aggregation) precisely so STREAMING can
    * use it: `dropDuplicates` state keys must exist on the row, and a
    * pre-aggregation would be a second stateful operator. The HOF
    * lambdas here evaluate interpreted — the known ~10× penalty vs the
    * batch path's exploded codegen aggregation — but the work is
    * numHashes × |shingles| integer ops per row, a per-row constant the
    * streaming micro-batch absorbs; batch-side dedup should keep using
    * [[minhashPairs]]'s aggregation shape.
    */
  def contentSignature(text: Column, shingleN: Int = 3,
                       numHashes: Int = 8): Column = {
    val xs = transform(shingles(text, shingleN), s => md5Int(s))
    val mhs = (0 until numHashes).map { i =>
      val (a, b) = permConstants(i)
      array_min(transform(xs, x => (x * a + b) % HashP))
    }
    mhs.reduce((acc, x) => (acc * 131L + x) % HashP)
  }

  /** SemDedup: semantic near-dup pruning via embedding clustering, after
    * Abbas et al. 2023 ("SemDedup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540, public recipe):
    * k-means the corpus, then compare embeddings ONLY within a cluster
    * and drop items whose cosine to another cluster member crosses
    * `threshold`. The survivor rule is keep-min-vec_id: an item is a
    * duplicate iff some LOWER-id item in its cluster is ≥ threshold
    * similar — deterministic, single-join expressible, no iteration (the
    * paper keeps one arbitrary item per dup group; min-id is the
    * arbitrary pick both engines can agree on).
    *
    * Scale shape: this is the paper's own trick for never building
    * all-pairs — pair cost is Σ|cluster|², so k grown ∝ N (keeping
    * expected cluster size constant, e.g. the paper's 11k clusters for
    * 1.3B items) keeps total candidate work ~linear while the clustering
    * itself stays a k-row broadcast assignment (see [[Clustering]]).
    * Assignments are localCheckpointed: both sides of the within-cluster
    * self-join and the final flag join reuse the materialized (id,
    * cluster, e, vsq) rows instead of re-running Lloyd three times.
    */
  def semDedup(embeddings: DataFrame, k: Int = 8, rounds: Int = 2,
               threshold: Double = 0.4): DataFrame = {
    import graft.llm.Similarity.dot
    val a = Clustering.kmeansAssignments(embeddings, k, rounds)
      .select(col("vec_id"), col("cluster"), col("e"), col("vsq"))
      .cut()
    val left = a.select(col("cluster"), col("vec_id").as("id_a"),
      col("e").as("ea"), col("vsq").as("sqa"))
    val right = a.select(col("cluster"), col("vec_id").as("id_b"),
      col("e").as("eb"), col("vsq").as("sqb"))
    val dupIds = left.join(right, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("ea"), col("eb")) / sqrt(col("sqa") * col("sqb"))
        >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    a.select("vec_id", "cluster")
      .join(dupIds.withColumn("d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("d"), lit(false)).as("is_dup"))
  }

  /** Token-window (chunk-level) semantic near-dup pairs: finds WINDOWS of
    * shared/boilerplate content across documents that document-level
    * dedup misses (a paragraph copied into an otherwise-different doc).
    * The fixture corpus has no sentence delimiters, so chunks are fixed
    * token windows ([[TextAnalysis.chunk]]), per the paragraph-ops plan.
    *
    * Shape — candidates then verify, both bounded:
    *  1. chunk every doc (window/stride token slices, one narrow explode);
    *  2. candidate pairs = chunks from DIFFERENT docs sharing a winnowing
    *     min-fingerprint ([[TextAnalysis.rollingFingerprint]] over the
    *     chunk), through the same capped bucket machinery as LSH
    *     ([[bucketPairs]]) — an equality join on one 64-bit key, never
    *     chunk×chunk;
    *  3. verify = cosine over `dim`-bucket hashing-trick token-count
    *     vectors (md5-int bucket, integer counts), computed SPARSELY: a
    *     keyed join on (chunk, bucket) rows — ≤ dim rows per chunk, no
    *     dense arrays — against candidates only.
    * Every step is replayable integer math, so the oracle re-runs the
    * whole chain. Cosine enters the output rounded; the threshold
    * compares the raw integer-derived double identically on both
    * engines.
    */
  def chunkSemanticPairs(docs: DataFrame, window: Int = 32, stride: Int = 24,
                         fpWindow: Int = 8, dim: Int = 32,
                         threshold: Double = 0.8,
                         maxBucket: Int = 1000): DataFrame = {
    // cid packs (doc_id, chunk_idx) into one join key for the bucket
    // machinery; the encoding holds only while chunk_idx < 10000
    // (~240k tokens at the default window/stride). A longer doc would
    // SILENTLY collide with the next doc_id's chunks, so the overflow
    // raises at scan time instead (executor-side raise_error — no
    // driver-side count pass, fails the first task that sees one).
    val cid = when(col("chunk_idx") < 10000,
      col("doc_id") * 10000 + col("chunk_idx"))
      .otherwise(raise_error(format_string(
        "chunkSemanticPairs: doc %d has chunk_idx %d >= 10000; " +
          "the cid = doc_id*10000 + chunk_idx encoding would collide " +
          "with another doc's chunks - re-chunk with a larger stride",
        col("doc_id"), col("chunk_idx"))))
    val chunks = TextAnalysis.chunk(docs, window, stride)
      .select(cid.as("cid"),
        col("doc_id"), col("chunk_idx"), col("chunk_text").as("text"))
      .cut() // fingerprint, buckets, and meta all reuse it
    val fp = TextAnalysis.rollingFingerprint(
        chunks.select(col("cid").as("doc_id"), col("text")), fpWindow)
      .select(col("doc_id").as("doc_id"), lit(0).as("band"),
        col("fingerprint").as("bucket"))
    val cand = bucketPairs(fp, maxBucket)
      .select(col("id1").as("ca"), col("id2").as("cb"))
    val meta = chunks.select("cid", "doc_id", "chunk_idx")
    val candDocs = broadcast(cand)
      .join(meta.select(col("cid").as("ca"), col("doc_id").as("doc_a"),
        col("chunk_idx").as("chunk_a")), "ca")
      .join(meta.select(col("cid").as("cb"), col("doc_id").as("doc_b"),
        col("chunk_idx").as("chunk_b")), "cb")
      .filter(col("doc_a") =!= col("doc_b"))
    // (r20 measured: a cut() here LOSES, 1.5→2.3 s — the three
    // consumers' re-runs of the per-token md5 pass from the chunks
    // checkpoint are cheaper than materializing the bucket counts and
    // degrading the downstream joins' planning. Do not re-try blind.)
    val buckets = chunks
      .select(col("cid"), explode(split(col("text"), " ")).as("t"))
      .select(col("cid"), pmod(md5Int(col("t")), lit(dim.toLong)).as("b"))
      .groupBy("cid", "b").agg(count(lit(1)).as("cnt"))
    val norms = buckets.groupBy("cid")
      .agg(sum(col("cnt") * col("cnt")).as("n2"))
    val dots = candDocs.select("ca", "cb")
      .join(buckets.select(col("cid").as("ca"), col("b"),
        col("cnt").as("cnta")), "ca")
      .join(buckets.select(col("cid").as("cb"), col("b"),
        col("cnt").as("cntb")), Seq("cb", "b"))
      .groupBy("ca", "cb").agg(sum(col("cnta") * col("cntb")).as("dp"))
    candDocs.join(dots, Seq("ca", "cb"))
      .join(norms.select(col("cid").as("ca"), col("n2").as("na2")), "ca")
      .join(norms.select(col("cid").as("cb"), col("n2").as("nb2")), "cb")
      .withColumn("cosine", col("dp") / sqrt(col("na2") * col("nb2")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("chunk_a"), col("doc_b"), col("chunk_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Connected components over near-duplicate pairs.
    *
    * Adaptive, like AQE: the edge list (candidate near-dup PAIRS) is
    * orders of magnitude smaller than the corpus, so when it fits one
    * task (≤ `localThreshold` edges — sized so the union-find maps stay
    * ~100 MB) a partition-local union-find resolves it in a single
    * narrow pass — two jobs total instead of 2×iterations. Above the threshold the distributed min-label
    * propagation loop runs: each iteration is one join+aggregate, the
    * driver only checks convergence (a count — no data is collected),
    * iterations are bounded by cluster diameter (tiny for dedup
    * graphs), and lineage is cut per iteration with localCheckpoint so
    * plans stay constant-size. Both paths produce identical labels.
    *
    * Input: (id1, id2) pairs. Output: (id, component) where component =
    * min id reachable — the canonical representative.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
                          localThreshold: Long = 1000000L): DataFrame = {
    // Materialize the edge list ONCE: pairs is usually the output of a
    // whole sketch pipeline (minhash etc.), and every iteration touches
    // edges twice — without this checkpoint the upstream pipeline would
    // re-execute 2×iterations times (measured: 34s instead of ~6s).
    val edgesRaw = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .cut()
    // Size the iteration parallelism to the edge list (~1M edges per
    // partition): near-dup graphs are orders smaller than the corpus, and
    // every CC iteration re-scans these partitions — a tiny graph spread
    // over the session-default partition count schedules wide, almost
    // empty task sets each round. coalesce() is narrow (no shuffle); big
    // edge lists keep their full parallelism.
    val n = edgesRaw.count()
    if (n <= localThreshold) return localComponents(edgesRaw)
    val targetParts = math.max(1, math.min(
      edgesRaw.rdd.getNumPartitions, math.ceil(n / 1e6).toInt))
    val edges = if (targetParts < edgesRaw.rdd.getNumPartitions)
      edgesRaw.coalesce(targetParts) else edgesRaw
    val vertices = edges.select(col("src").as("id")).distinct()
    var labels = vertices.withColumn("component", col("id")).cut()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min("component").as("nmin"))
      // Carry the previous label through the join so convergence is a
      // filter-count over the already-materialized checkpoint — not a
      // second join job per iteration (halves the per-iteration jobs).
      val next = labels.join(neighborMin, col("id") === col("src"), "left")
        .select(col("id"), col("component").as("prev"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
        .cut()
      val changed = next.filter(col("component") =!= col("prev")).count()
      labels = next.select("id", "component")
      converged = changed == 0
      i += 1
    }
    // No silent caps: min-label propagation needs ~diameter iterations;
    // returning part-propagated labels would split real clusters without
    // any signal. A graph that legitimately needs more hops should be
    // rerun with a bigger maxIter — not silently mislabeled.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge after $maxIter iterations " +
        "(graph diameter exceeds maxIter); rerun with a larger maxIter")
    labels
  }

  /** Small-graph path: one-task union-find with path compression over
    * the (already materialized) edge list. Labels = min id per
    * component, identical to the iterative path's fixpoint.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val next = parent.getOrElse(c, c); parent(c) = r; c = next
          }
          r
        }
        val seen = scala.collection.mutable.HashSet.empty[Long]
        it.foreach { case (a, b) =>
          seen += a; seen += b
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
        seen.foreach { id =>
          val r = find(id)
          minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), id)
        }
        seen.iterator.map(id => (id, minOfRoot(find(id))))
      }
      .toDF("id", "component")
  }

  /** End-to-end dedup: near-dup pairs → components → keep the canonical
    * (min doc_id) member of each cluster, plus every unpaired doc.
    */
  def dedupSurvivors(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val components = connectedComponents(pairs)
    val casualties = components.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    // casualties ≈ number of duplicates — tiny relative to the corpus;
    // broadcast so the anti join never shuffles the documents.
    docs.join(broadcast(casualties), Seq("doc_id"), "left_anti")
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int,
                   maxBucket: Int = 1000): DataFrame = {
    // The signature table is ~5 small ints per document but its plan is a
    // 65-aggregate pipeline over every shingle; it feeds three consumers
    // (banding, both verify sides). Materialize it once so the heavy
    // aggregation doesn't run 3× (and its large codegen compiles once).
    val parts = simhashParts(docs).cut()
    val banded = parts.select(col("doc_id"),
      posexplode(array(col("part0"), col("part1"), col("part2"), col("part3")))
        .as(Seq("band", "bucket")))
    val candidates = bucketPairs(banded, maxBucket)
    val p1 = parts.select(col("doc_id").as("id1"), col("part0").as("x0"),
      col("part1").as("x1"), col("part2").as("x2"), col("part3").as("x3"))
    val p2 = parts.select(col("doc_id").as("id2"), col("part0").as("y0"),
      col("part1").as("y1"), col("part2").as("y2"), col("part3").as("y3"))
    broadcast(candidates).join(p1, "id1").join(p2, "id2")
      .withColumn("hamming",
        (0 until 4).map(i =>
          bit_count(col(s"x$i").bitwiseXOR(col(s"y$i")))).reduce(_ + _))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }
}
