package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * All math is built from codegen'd higher-order functions
  * (`zip_with`/`aggregate`/`transform`) in double precision — no UDFs, no
  * driver-side vectors. Accumulation is sequential left-to-right, which
  * matches DuckDB's list kernels, keeping the oracle hash-comparable
  * after rounding.
  *
  * Scale shape:
  *  - brute force: queries broadcast against the corpus — exact, O(N·Q),
  *    the right answer when Q is small and the corpus is the 100 TB side;
  *  - LSH: deterministic random-hyperplane signatures bucket the corpus;
  *    candidates come from band-equality joins (shuffle on small keys),
  *    exact cosine re-ranks candidates only. An IVF variant would swap
  *    the signature for a nearest-centroid id; same join shape.
  */
object Similarity {

  /** Dot/norm over `array<float>` via the native codegen'd expressions
    * in [[graft.functions.VectorExpressions]] — the HOF formulation
    * (`aggregate(zip_with(...))`) evaluates its lambdas interpreted and
    * measured ~10× slower on the scoring hot path. Accumulation order is
    * identical (sequential, double), so values are bit-equal.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dotF(a, b)

  def l2Norm(v: Column): Column = sqrt(sumSq(v))

  /** Σx² in double — precomputed once per vector row by the top-k paths
    * so the per-pair work is the dot product alone. */
  def sumSq(v: Column): Column = graft.functions.VectorExpressions.sumSqF(v)

  /** cosine = dot / sqrt(|a|^2 * |b|^2) — single sqrt, matching DuckDB's
    * list_cosine_similarity formula shape. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(sumSq(a) * sumSq(b))

  /** Exact top-k neighbors per query vector. `queries` must have columns
    * (query_id, qe); the small side is broadcast — zero shuffle for the
    * scoring pass, one shuffle for the per-query top-k window. Cosine is
    * rounded to 6 places BEFORE ranking so cross-engine ties break
    * identically (by neighbor_id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // Norms precomputed per row (N + Q evaluations), not per pair (N×Q):
    // same double values bitwise, 3× less HOF work in the hot loop.
    val c = corpus.withColumn("csq", sumSq(col("embedding")))
    val q = queries.withColumn("qsq", sumSq(col("qe")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("embedding"), col("qe")) / sqrt(col("csq") * col("qsq")), 6)
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  /** Deterministic random hyperplanes: `numPlanes` unit-free gaussian
    * vectors from a fixed seed (driver-side constant, broadcast as a
    * literal — a few KB, never data-dependent).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign signature under the planes, banded into `bands` small integer
    * bucket keys (each from numPlanes/bands sign bits — ANSI-safe ints).
    */
  def bandedSignature(vec: Column, planes: Seq[Seq[Double]], bands: Int): Column = {
    val perBand = planes.size / bands
    val bandCols = (0 until bands).map { b =>
      val bits = (0 until perBand).map { i =>
        val plane = typedLit(planes(b * perBand + i).map(_.toFloat))
        when(dot(vec, plane) >= 0, 1 << i).otherwise(0)
      }
      bits.reduce(_ + _)
    }
    array(bandCols: _*)
  }

  /** IVF-style ANN top-k: a coarse quantizer assigns every corpus vector
    * to its nearest centroid; queries probe their `nProbe` nearest
    * centroid cells and re-rank exactly within them.
    *
    * The default quantizer (round 13) is TRAINED: [[ivfCentroids]] runs
    * [[Clustering.kmeansCentroids]] with nlist = ⌊√N⌋ — the standard IVF
    * balance — and cell membership follows the k-means metric (argmin
    * L2²). Trained cells track the data distribution, so at a given
    * nProbe the probed cells hold more of the true neighbors than the
    * round-9..12 deterministic-sample cells did (the recall shift is
    * measured in q_ann_sweep / SCALE.md). `centroidEvery > 0` keeps the
    * untrained √N-strided sample variant (cosine cells) for comparison.
    *
    * Scale shape (unchanged): centroids are a √N-row broadcast;
    * assignment is a broadcast map-side pass (the corpus never shuffles
    * for it); probing shuffles only candidate cells. Training adds two
    * more broadcast passes and one (cluster, dim)-keyed aggregation —
    * the same N·√N family as assignment itself.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidEvery: Long = 0, nProbe: Int = 2,
              corpusSize: Long = 0): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    ivfScored(corpus, queries, centroidEvery, nProbe, corpusSize)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  /** The trained IVF coarse quantizer: k-means centroids
    * (`centroid_id`, `ce`, `cesq`) with nlist = ⌊√N⌋, 2 Lloyd rounds,
    * float-quantized means (the [[Clustering]] determinism contract, so
    * the DuckDB oracle replays training bit-for-bit). Lineage-cut: the
    * result is √N rows read by both the corpus-assignment and the
    * query-probe passes — without the cut each reader would redo the
    * training's corpus-wide aggregation. */
  def ivfCentroids(corpus: DataFrame, corpusSize: Long = 0): DataFrame = {
    val n = if (corpusSize > 0) corpusSize else corpus.count()
    val k = math.max(1L, math.sqrt(n.toDouble).toLong).toInt
    graft.CheckpointStrategy.cut(
      Clustering.kmeansCentroids(corpus, k, rounds = 2)
        .select(col("cluster").as("centroid_id"), col("ce"), col("cesq")))
  }

  /** IVF candidate set WITH exact cosine (pre-top-k) over an EXPLICIT
    * centroid set — every (query, corpus-vector) pair sharing a probed
    * cell. Cell assignment and probing use argmin L2² (ties to the
    * lower centroid id) — the k-means training metric, mirrored exactly
    * by [[Clustering.assign]]; the re-rank inside candidates stays
    * exact cosine. Exposed so the operating-curve sweep (q_ann_sweep)
    * trains ONCE and probes at several nProbe values.
    *
    * `keep` names extra corpus columns carried through assignment to the
    * output (e.g. a metadata label for FILTERED search, q_ann_filtered):
    * the payload rides the corpus's own map-side assignment pass, so
    * constrained search never re-joins candidates against the
    * corpus-sized table to recover metadata. */
  /** L2² distance to a broadcast centroid row — the k-means training
    * metric, operand order mirroring `Clustering.d2` so distances are
    * bit-identical to the DuckDB oracle's replay. */
  private def ivfD2c(v: Column, vsq: Column): Column =
    vsq - lit(2.0) * dot(v, col("ce")) + col("cesq")

  /** Cell membership under the trained metric: argmin L2², ties to the
    * lower centroid id. THE assignment rule every IVF path (plain,
    * filtered, IVF-PQ) and the oracle replay share — one definition, so
    * the tie-break contract can never diverge between paths. `keep`
    * selects the output columns (beyond vec_id). */
  private def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                        keep: Seq[String]): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("d2c"), col("centroid_id"))
    corpus.withColumn("vsq", sumSq(col("embedding")))
      .crossJoin(broadcast(centroids))
      .withColumn("d2c", ivfD2c(col("embedding"), col("vsq")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(("vec_id" +: keep).map(col): _*)
  }

  /** The query side of [[ivfAssign]]: each query's `nProbe` nearest
    * cells under the same metric and tie-break. */
  private def ivfProbe(queries: DataFrame, centroids: DataFrame,
                       nProbe: Int, keep: Seq[String]): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("d2c"), col("centroid_id"))
    queries.withColumn("qsq", sumSq(col("qe")))
      .crossJoin(broadcast(centroids))
      .withColumn("d2c", ivfD2c(col("qe"), col("qsq")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nProbe)
      .select(("query_id" +: keep).map(col): _*)
  }

  def ivfScoredWith(corpus: DataFrame, queries: DataFrame,
                    centroids: DataFrame, nProbe: Int = 2,
                    keep: Seq[String] = Nil): DataFrame = {
    val assigned = ivfAssign(corpus, centroids,
      Seq("embedding", "vsq", "centroid_id") ++ keep)
    val probes = ivfProbe(queries, centroids, nProbe,
      Seq("qe", "qsq", "centroid_id"))
    assigned.join(broadcast(probes), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("embedding"), col("qe")) / sqrt(col("vsq") * col("qsq")), 6)
          .as("cosine")) ++ keep.map(col): _*)
  }

  /** IVF candidate set WITH exact cosine (pre-top-k): every (query,
    * corpus-vector) pair sharing a probed cell. Default path trains the
    * quantizer ([[ivfCentroids]]); `centroidEvery > 0` selects the
    * legacy √N-strided sample with cosine cells.
    */
  def ivfScored(corpus: DataFrame, queries: DataFrame,
                centroidEvery: Long = 0, nProbe: Int = 2,
                corpusSize: Long = 0): DataFrame = {
    if (centroidEvery <= 0)
      return ivfScoredWith(corpus, queries,
        ivfCentroids(corpus, corpusSize), nProbe)
    // ---- legacy sampled quantizer (comparison baseline) ---------------
    val centroids = corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"),
        sumSq(col("embedding")).as("cesq"))
    def cellSim(v: Column, vsq: Column) =
      dot(v, col("ce")) / sqrt(vsq * col("cesq"))

    val wAssign = Window.partitionBy("vec_id").orderBy(desc("csim"), col("centroid_id"))
    val assigned = corpus.withColumn("vsq", sumSq(col("embedding")))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", cellSim(col("embedding"), col("vsq")))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("vsq"), col("centroid_id"))

    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), col("centroid_id"))
    val probes = queries.withColumn("qsq", sumSq(col("qe")))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", cellSim(col("qe"), col("qsq")))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qe"), col("qsq"), col("centroid_id"))

    assigned.join(broadcast(probes), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("embedding"), col("qe")) / sqrt(col("vsq") * col("qsq")), 6)
          .as("cosine"))
  }

  /** LSH-bucketed ANN top-k: candidates = corpus∩query band collisions
    * (multi-probe across `bands` bands), exact cosine re-rank on the
    * candidate set only. Recall vs `bruteForceTopK` is asserted in
    * SimilaritySpec.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 16, bands: Int = 2, dim: Int = 64): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    lshScored(corpus, queries, numPlanes, bands, dim)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  /** LSH candidate set WITH exact cosine (pre-top-k): corpus∩query band
    * collisions, deduped. Exposed separately for the operating-curve
    * sweep (q_ann_sweep): candidate count per query is the re-rank cost
    * a band count buys, traded against the recall it delivers.
    *
    * `vec_id` and `query_id` are keys (one row per id on each side). A
    * pair colliding in several bands is kept only in the LOWEST band where
    * it collides: both sides carry their whole band array, so that is a
    * row filter on the join output instead of a `dropDuplicates` — which
    * carried both embedding arrays and so planned as a sort-based
    * aggregate (two sorts and a shuffle ahead of the top-k's own). Norms
    * are computed once per row on each side, not once per pair.
    */
  def lshScored(corpus: DataFrame, queries: DataFrame,
                numPlanes: Int = 16, bands: Int = 2,
                dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val corpusBanded = corpus
      .select(col("vec_id"), col("embedding"), sumSq(col("embedding")).as("csq"),
        bandedSignature(col("embedding"), planes, bands).as("sig_c"))
      .select(col("*"), posexplode(col("sig_c")).as(Seq("band", "bucket")))
    val queryBanded = queries
      .select(col("query_id"), col("qe"), sumSq(col("qe")).as("qsq"),
        bandedSignature(col("qe"), planes, bands).as("sig_q"))
      .select(col("*"), posexplode(col("sig_q")).as(Seq("band", "bucket")))
    // no band below this row's band collides (with 2 bands:
    // band = 0 OR sig_c[0] != sig_q[0])
    val lowestCollision = (0 until bands - 1)
      .map(b => col("band") <= b || col("sig_c")(b) =!= col("sig_q")(b))
      .reduceOption(_ && _).getOrElse(lit(true))
    corpusBanded
      .join(queryBanded, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id") && lowestCollision)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("embedding"), col("qe")) / sqrt(col("csq") * col("qsq")), 6)
          .as("cosine"))
  }

  /** IVF-PQ ANN top-k — the composition the two component families
    * exist for (Jégou et al.'s IVFADC): the TRAINED IVF coarse
    * quantizer ([[ivfCentroids]]) restricts the candidate set to the
    * query's `nProbe` cells, and PQ-ADC scores ONLY those candidates
    * from their subspace codes. At production scale this multiplies
    * the two savings: the scan touches `scan_frac` of the corpus (IVF)
    * and reads m-byte codes instead of raw vectors (PQ) — the standard
    * billion-vector memory/recall operating point.
    *
    * Plan shape: centroids and codebooks are √N-row broadcasts; cell
    * assignment and code assignment are broadcast map-side passes over
    * the corpus; the candidate restriction is a keyed join of the
    * per-cell membership against the broadcast probe list; ADC is the
    * same (query, vector)-keyed aggregation as [[pqTopK]], in FIXED
    * subspace order so both engines sum identically. Ranking is ADC
    * ascending (L2² proxy), ties to the lower neighbor id.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                m: Int = 4, dim: Int = 64, nProbe: Int = 2,
                corpusSize: Long = 0): DataFrame = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val sub = dim / m
    val n = if (corpusSize > 0) corpusSize else corpus.count()
    val stride = math.max(1L, math.sqrt(n.toDouble).toLong)
    val cents = ivfCentroids(corpus, n)
    // cell membership + query probes — the SHARED ivfAssign/ivfProbe
    // rules, carrying only ids (codes replace vectors downstream; the
    // raw embedding never reaches the ADC join)
    val cells = ivfAssign(corpus, cents, Seq("centroid_id"))
    val probes = ivfProbe(queries, cents, nProbe, Seq("centroid_id"))
    val cand = cells.join(broadcast(probes), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))

    // PQ codes + per-query LUT — pqTopK's chains verbatim
    def subSlices(v: Column) =
      array((0 until m).map(j => slice(v, j * sub + 1, sub)): _*)
    val codebook = corpus.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("code"),
        posexplode(subSlices(col("embedding"))).as(Seq("j", "csub")))
      .withColumn("csq", sumSq(col("csub")))
    def l2sq(v: Column, vsq: Column) =
      vsq - lit(2.0) * dot(v, col("csub")) + col("csq")
    val wCode = Window.partitionBy("vec_id", "j").orderBy(col("d2"), col("code"))
    val codes = corpus
      .select(col("vec_id"), posexplode(subSlices(col("embedding"))).as(Seq("j", "vsub")))
      .withColumn("vsq", sumSq(col("vsub")))
      .join(broadcast(codebook), "j")
      .withColumn("d2", l2sq(col("vsub"), col("vsq")))
      .withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("code"))
    val lut = queries
      .select(col("query_id"), posexplode(subSlices(col("qe"))).as(Seq("j", "qsub")))
      .withColumn("qsq", sumSq(col("qsub")))
      .join(broadcast(codebook), "j")
      .withColumn("pd", l2sq(col("qsub"), col("qsq")))
      .select(col("query_id"), col("j"), col("code"), col("pd"))

    // ADC over candidates only: codes restricted to probed-cell members
    // BEFORE the LUT join, so scoring work is O(candidates · m)
    val parts = (0 until m).map(j => sum(when(col("j") === j, col("pd"))).as(s"p$j"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(parts.head, parts.tail: _*)
      .withColumn("adc", round((0 until m).map(j => col(s"p$j")).reduce(_ + _), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "adc", "rn")
  }

  /** Product-quantization ANN top-k via ADC (asymmetric distance
    * computation) — the third standard ANN family next to LSH buckets
    * and IVF cells, and the memory-scale path: each corpus vector is
    * represented by `m` subspace codes, so the scoring scan reads codes
    * plus a per-query lookup table instead of raw vectors.
    *
    * Deterministic sample codebooks per subspace (every ⌊√N⌋-th
    * vector's subvector — the ivfTopK stride policy), L2² assignment
    * with ties to the lower code, ADC score = Σⱼ ‖q⁽ʲ⁾ − c⁽ʲ⁾(codeⱼ)‖²
    * accumulated in FIXED subspace order (per-subspace conditional sums
    * added left-to-right) so both engines sum identically.
    *
    * Scale shape: codebooks and LUTs are √N-bounded broadcasts; the
    * assignment pass is map-side over the corpus; the ADC join keys on
    * (subspace, code) against the broadcast LUT and aggregates keyed by
    * (query, vector) — linear in the corpus with an m-row-per-vector
    * constant, no pair blowup. Composing with ivfTopK's cell
    * restriction (IVF-PQ) would cut the scan to probed cells; the flat
    * scan here is the deliberate exact-ADC baseline.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, dim: Int = 64, centroidEvery: Long = 0,
             corpusSize: Long = 0): DataFrame = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val sub = dim / m
    // corpusSize > 0 skips the count job (see ivfTopK).
    val stride =
      if (centroidEvery > 0) centroidEvery
      else {
        val n = if (corpusSize > 0) corpusSize else corpus.count()
        math.max(1L, math.sqrt(n.toDouble).toLong)
      }
    def subSlices(v: Column) =
      array((0 until m).map(j => slice(v, j * sub + 1, sub)): _*)
    val codebook = corpus.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("code"),
        posexplode(subSlices(col("embedding"))).as(Seq("j", "csub")))
      .withColumn("csq", sumSq(col("csub")))
    def l2sq(v: Column, vsq: Column) =
      vsq - lit(2.0) * dot(v, col("csub")) + col("csq")

    val wAssign = Window.partitionBy("vec_id", "j").orderBy(col("d2"), col("code"))
    val assigned = corpus
      .select(col("vec_id"), posexplode(subSlices(col("embedding"))).as(Seq("j", "vsub")))
      .withColumn("vsq", sumSq(col("vsub")))
      .join(broadcast(codebook), "j")
      .withColumn("d2", l2sq(col("vsub"), col("vsq")))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("code"))

    val lut = queries
      .select(col("query_id"), posexplode(subSlices(col("qe"))).as(Seq("j", "qsub")))
      .withColumn("qsq", sumSq(col("qsub")))
      .join(broadcast(codebook), "j")
      .withColumn("pd", l2sq(col("qsub"), col("qsq")))
      .select(col("query_id"), col("j"), col("code"), col("pd"))

    val parts = (0 until m).map(j => sum(when(col("j") === j, col("pd"))).as(s"p$j"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    assigned.join(broadcast(lut), Seq("j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(parts.head, parts.tail: _*)
      .withColumn("adc", round((0 until m).map(j => col(s"p$j")).reduce(_ + _), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "adc", "rn")
  }
}
