package graft.ml

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.VectorFunctions.dot
import graft.streaming.BatchCommit

/** Approximate-nearest-neighbor search over an embedding column
  * (`embedding: array<float>`).
  *
  * Baseline: brute-force cosine top-k (quadratic, exact). Scale path:
  * IVF — assign every vector to its nearest centroid, search only
  * within the probed cells; the pair space shrinks from N² to
  * N²/cells·probes. All plans are declarative DataFrames; the per-pair
  * dot product is the native codegen expression
  * [[graft.functions.DotProduct]] (tight primitive loop, no per-pair
  * allocation), and per-vector norms are computed ONCE before the pair
  * join — at N·k pair evaluations that turns 3 array reductions per
  * pair into 1.
  *
  * Determinism: cosine = dot/(na·nb) with strictly sequential float
  * summation, the same association DuckDB's list_cosine_similarity
  * uses, so `round(cos, 6)` hash-compares against the oracle.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns (exact DuckDB
    * list_cosine_similarity semantics). Prefer the precomputed-norm
    * path below in pair joins.
    *
    * Note: `graft_dot` resolves through the session function registry;
    * since this is a public entry point it registers the functions on
    * the active session itself (idempotent) rather than assuming a
    * prior operator did.
    */
  def cosine(a: Column, b: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.GraftExtensions.register)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** The degenerate-vector guard, shared by every consumer of a norm
    * ([[withNorm]], [[fitCentroids]], [[outliersByLabel]]): strictly
    * positive AND finite — `> 0` alone keeps NaN (Spark orders NaN
    * above every double) and +Inf, both of which poison every cosine
    * they touch. One definition so a future change to the
    * degenerate-vector rules cannot drift between call sites.
    */
  private[ml] def finitePositiveNorm(nrm: Column): Column =
    nrm > 0 && !isnan(nrm) && nrm < lit(Double.PositiveInfinity)

  /** (vec_id, e: array<double>, nrm: double) — cast once, norm once.
    * Degenerate vectors are EXCLUDED here: cosine is undefined for the
    * zero vector, and a NaN/Infinity component poisons every cosine it
    * touches — Spark orders NaN ABOVE every double, so a NaN norm
    * passes `> 0`, a NaN cosine passes every `>= threshold`, and the
    * broken vector ranks FIRST in every top-k. The guard therefore
    * requires a strictly positive FINITE norm. A zero/NaN embedding is
    * a broken upstream embed; a similarity operator's contract is over
    * finite nonzero vectors.
    */
  private def withNorm(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(embeddings.sparkSession)
    val e = col("embedding").cast("array<double>")
    embeddings.select(col("vec_id"), e.as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .filter(finitePositiveNorm(col("nrm")))
  }

  private def pairCos: Column =
    round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)

  /** All pairs (i < j) with cosine ≥ threshold — the embedding
    * near-duplicate detector. Brute-force upper-triangle join; at scale
    * the same predicate runs after an LSH/IVF candidate cut. The
    * smaller side broadcasts (BroadcastNestedLoopJoin), so the big side
    * streams through codegen without a shuffle.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val n = withNorm(embeddings)
    val a = n.select(col("vec_id").as("i"), col("e").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("j"), col("e").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("i") < col("j"))
      .withColumn("cos", pairCos)
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos"))
  }

  /** Exact brute-force cosine top-k neighbors per vector. Ordering is on
    * the rounded similarity with vec_id tiebreak, so ranking is
    * deterministic and oracle-stable.
    */
  def bruteTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val n = withNorm(embeddings)
    bruteTopKSides(n, n, k)
  }

  /** [[bruteTopK]] restricted to a query subset: exact cosine top-k
    * over the whole corpus for ONLY the vectors whose `vec_id` appears
    * in `queryIds`. The subset lands structurally on the pair scan's
    * query side (a semi-join BEFORE the cross join), so the
    * |queries|·N — not N² — pair count is guaranteed by construction,
    * not by an optimizer pushdown surviving future refactors.
    */
  def bruteTopKForQueries(embeddings: DataFrame, queryIds: DataFrame,
      k: Int): DataFrame = {
    val n = withNorm(embeddings)
    bruteTopKSides(
      n.join(queryIds.select(col("vec_id")), Seq("vec_id"), "left_semi"),
      n, k)
  }

  private def bruteTopKSides(qn: DataFrame, n: DataFrame, k: Int)
      : DataFrame = {
    // The |q|·N cosine expansion happens INSIDE the broadcast cross
    // join, so its task count is the QUERY side's scan partitioning —
    // a single-file query table runs the whole quadratic pass in one
    // task on an idle cluster (measured: one 2.5 s 1-task job per
    // recall gate at sf0.1). Repartitioning the query side on `i` at
    // the session's shuffle width spreads the expansion across the
    // cluster AND already satisfies the top-k window's required
    // hashpartitioning(i) — the broadcast join preserves the streamed
    // side's partitioning, so the window sorts in place instead of
    // shuffling every scored pair (the shuffled term drops from
    // Θ(|q|·N) pair rows to the query rows themselves, guide §2.3).
    // Query-subset filters (withRecall's sampleMod, the ForQueries
    // semi-join) push through the repartition, so sampling still cuts
    // the pair count, not just the output.
    val p = qn.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val a = qn.select(col("vec_id").as("i"), col("e").as("ea"), col("nrm").as("na"))
      .repartition(p, col("i"))
    val b = n.select(col("vec_id").as("j"), col("e").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    a.crossJoin(b).filter(col("i") =!= col("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** bruteTopK via the typed [[graft.functions.TopKByScore]]
    * Aggregator instead of a window: identical output (same
    * (score desc, j asc) determinism), but the per-pair scores
    * partial-aggregate map-side — each partition ships at most k
    * entries per query vector, vs the window shuffling every pair.
    * The preferred shape once N·k outgrows the shuffle budget.
    */
  def bruteTopKAgg(embeddings: DataFrame, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = withNorm(embeddings)
    val a = n.select(col("vec_id").as("i"), col("e").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("j"), col("e").as("eb"), col("nrm").as("nb"))
    val pairs = a.crossJoin(b).filter(col("i") =!= col("j"))
      .select(col("i"), col("j"), pairCos.as("score"))
      .as[graft.functions.ScoredPair]
    pairs.groupByKey(_.i)
      .agg(new graft.functions.TopKByScore(k).toColumn)
      .flatMap { case (i, nbrs) =>
        nbrs.zipWithIndex.map { case (s, idx) => (i, idx + 1, s.j, s.score) }
      }
      .toDF("i", "rk", "j", "cos")
      .orderBy(col("i"), col("rk"))
  }

  /** Random-hyperplane LSH ANN (SimHash-for-cosine): `nBands` bands of
    * `bitsPerBand` sign bits each; vectors sharing any whole band
    * bucket become candidates, candidates are re-scored with the exact
    * cosine and top-k'd. Planes are fixed-seed pseudo-random (the
    * java.util.Random LCG is specified, so buckets are deterministic
    * across runs/JVMs) — a stand-in for trained projections.
    *
    * Scale shape: bucketing is map-only (nBands·bitsPerBand codegen dot
    * products per vector against broadcast literal planes); the
    * candidate join moves only (vec_id, band, bucket) — late
    * materialization like the dedup operators — and the exact re-score
    * touches Σ|bucket|² pairs ≪ N². Banding trades recall for cost the
    * same way MinHash LSH does.
    */
  /** The fixed-seed LSH hyperplanes — exposed (package-private) so the
    * DuckDB oracles can embed the IDENTICAL values as literals (the
    * ns45 literal-plane pattern): the java.util.Random LCG is
    * specified, so both engines band on the same planes and the whole
    * LSH pipeline becomes hash-gateable despite being "random".
    */
  private[graft] def lshPlanes(nBands: Int, bitsPerBand: Int,
      dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(nBands * bitsPerBand, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Random-hyperplane sign-bit banding: (vec_id, band, bucket) rows
    * for a normed frame — shared by the top-k and the near-dup-pair
    * LSH paths so the bucketing scheme cannot drift between them.
    * Planes come from [[lshPlanes]] (deterministic across runs/JVMs
    * and mirrored into the oracles).
    */
  private def lshBanded(n: DataFrame, nBands: Int, bitsPerBand: Int,
      dim: Int): DataFrame = {
    val planes = lshPlanes(nBands, bitsPerBand, dim)
    val bandCol = (b: Int) => (0 until bitsPerBand).map { p =>
      when(dot(col("e"), lit(planes(b * bitsPerBand + p))) > 0,
        lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    n.select(col("vec_id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), bandCol(b).as("bucket"))): _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** Band-collision candidates re-scored with the exact cosine —
    * shared by the LSH top-k and near-dup-pair paths (the candidate
    * half of the scheme, factored like [[lshBanded]] so a fix to one
    * path cannot silently leave the other stale). `ordered=true`
    * keeps only i < j (pair semantics); false keeps both directions
    * (per-query semantics). Output: (i, j, cos).
    */
  private def lshScoredCandidates(n: DataFrame, nBands: Int,
      bitsPerBand: Int, dim: Int, ordered: Boolean,
      bandOccupancyCap: Long = 0L): DataFrame = {
    val bandedAll = lshBanded(n, nBands, bitsPerBand, dim)
    // the ns5c/ns7i occupancy cap, sign-LSH edition: a clustered
    // corpus collapses its members' plane signs into the same buckets
    // and Σ|bucket|² goes quadratic (measured exp 1.87 on the
    // clustered-embedding tier, round 13) — buckets above the cap
    // form no pairs, so candidates stay ≤ cap·bands·N structurally,
    // with the stated drop-hot-bucket recall trade. Deterministic
    // (bucket sizes are a pure function of the data), so the capped
    // form restates in the oracle as a windowed count
    val banded = capBuckets(bandedAll, Seq("band", "bucket"),
      bandOccupancyCap)
    val idFilter =
      if (ordered) col("i") < col("j") else col("i") =!= col("j")
    val cand = banded.select(col("vec_id").as("i"), col("band"), col("bucket"))
      .join(banded.select(col("vec_id").as("j"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(idFilter)
      .select(col("i"), col("j")).distinct()
    cand
      .join(n.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(n.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
  }

  def lshTopK(embeddings: DataFrame, nBands: Int, bitsPerBand: Int,
      k: Int, dim: Int): DataFrame = {
    val n = withNorm(embeddings)
    val w = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    lshScoredCandidates(n, nBands, bitsPerBand, dim, ordered = false)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** Scalar int8 quantization (SQ8): each vector rescaled so its
    * largest-magnitude component maps to ±127, components rounded to
    * integers, PACKED into a BinaryType column of signed bytes by the
    * native codegen expression [[graft.functions.PackSq8]]. Cosine is
    * scale-invariant, so the quantized cosine approximates the exact
    * one with no de-scaling — and at 100 TB the point is BANDWIDTH:
    * the candidate pair scan shuffles and dots 1-byte components
    * instead of 8-byte array<double> elements (8× less traffic on the
    * N² half), with full-precision vectors touched only during the
    * final re-score. `qn` is exact: the byte dot is integer arithmetic
    * ([[graft.functions.DotProductInt8]], long accumulator).
    */
  private def quantizeSq8(n: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{dot8, sq8Pack}
    n.withColumn("q", sq8Pack(col("e")))
      .withColumn("qn", sqrt(dot8(col("q"), col("q")).cast("double")))
      // withNorm already dropped zero vectors, so amax>0 and the max-
      // magnitude component packs to ±127 — this guard is belt-and-
      // braces against a caller skipping withNorm
      .filter(col("qn") > 0)
  }

  /** Candidate-generate-with-SQ8, refine-with-exact top-k: rank all
    * pairs by the QUANTIZED cosine, keep `refine` candidates per query,
    * re-score only those with the full-precision vectors (late
    * materialization — the N² scan touches int8 data only), exact
    * top-k of the re-scored candidates. Approximate: a true neighbor
    * ranked below `refine` by the quantized score is lost; recall is
    * measured in-result by the registry entry.
    */
  def sq8TopK(embeddings: DataFrame, k: Int, refine: Int): DataFrame = {
    require(refine >= k, "refine depth must be >= k")
    val n = withNorm(embeddings)
    val z = quantizeSq8(n)
    val qa = z.select(col("vec_id").as("i"), col("q").as("qa"),
      col("qn").as("qna"))
    val qb = z.select(col("vec_id").as("j"), col("q").as("qb"),
      col("qn").as("qnb"))
    val wApprox = Window.partitionBy(col("i"))
      .orderBy(col("qcos").desc, col("j"))
    val cand = qa.crossJoin(qb).filter(col("i") =!= col("j"))
      .withColumn("qcos",
        round(graft.functions.VectorFunctions.dot8(col("qa"), col("qb"))
          .cast("double") / (col("qna") * col("qnb")), 6))
      .withColumn("qrk", row_number().over(wApprox))
      .filter(col("qrk") <= refine)
      .select(col("i"), col("j"))
    val wExact = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    cand
      .join(n.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(n.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** Contrastive triplet mining — the training-pair generator for
    * embedding/retrieval model finetuning: for each anchor (a
    * deterministic id-mod sample, the [[withRecall]] discipline), the
    * single best POSITIVE (cosine ≥ posThreshold, nearest first) and
    * the `nNegs` HARDEST NEGATIVES — the highest-cosine vectors that
    * still fall below the positive band (`negLo ≤ cos <
    * posThreshold`). Hard negatives are the pairs a contrastive loss
    * learns most from (easy negatives below `negLo` are
    * uninformative; above-threshold ones are presumed same-content
    * and would poison the label). Anchors lacking EITHER a positive
    * or at least one in-band negative yield no triplets — a
    * contrastive example needs both sides, and the count delta
    * against the anchor sample is the caller's coverage report.
    *
    * Scale shape: the anchor subset lands structurally on the pair
    * scan's query side (semi-join before the cross join — the
    * [[bruteTopKForQueries]] guarantee), so the scan is
    * |anchors|·N, not N²; at corpus scale the same
    * positive/negative-band windows run over the sign-LSH candidate
    * cut — [[hardNegativesLsh]], routed by measured volume in
    * [[hardNegativesAuto]] (ns57b). Ranking is on the ROUNDED cosine
    * with id tiebreak — deterministic, oracle-stable.
    */
  def hardNegatives(embeddings: DataFrame, queryMod: Int,
      posThreshold: Double, negLo: Double, nNegs: Int): DataFrame = {
    require(negLo < posThreshold,
      "the negative band must lie below the positive threshold")
    require(nNegs >= 1, "need at least one hard negative per anchor")
    val n = withNorm(embeddings)
    val a = n.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na"))
    val b = n.select(col("vec_id").as("j"), col("e").as("eb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    // MATERIALIZED: both the positive and negative branches hang off
    // this scan with different filters below their window shuffles, so
    // without a boundary the |anchors|·N dot-product pass executes
    // twice (the mmrRerank materialization lesson, same session)
    val scored = Materialize.cut(a.crossJoin(b)
      .filter(col("i") =!= col("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos")))
    tripletWindows(scored, posThreshold, negLo, nNegs)
  }

  /** The triplet selection windows over a scored (i, j, cos) pair
    * table — shared by the brute and the LSH-cut miners so the band
    * semantics cannot drift: best positive (cos ≥ posThreshold,
    * nearest first), `nNegs` hardest in-band negatives, anchors
    * lacking either side yield nothing. The caller owns the scored
    * table's materialization (both branches hang off it).
    */
  private def tripletWindows(scored: DataFrame, posThreshold: Double,
      negLo: Double, nNegs: Int): DataFrame = {
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    val pos = scored.filter(col("cos") >= posThreshold)
      .withColumn("prk", row_number().over(w)).filter(col("prk") === 1)
      .select(col("i"), col("j").as("pos_id"), col("cos").as("pos_cos"))
    val neg = scored
      .filter(col("cos") >= negLo && col("cos") < posThreshold)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= nNegs)
      .select(col("i"), col("rk"), col("j").as("neg_id"),
        col("cos").as("neg_cos"))
    pos.join(neg, Seq("i"))
      .select(col("i"), col("rk"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"))
  }

  /** [[hardNegatives]]' scale path — the scaladoc prose made real
    * (the r12 verdict's item 4): the SAME positive/negative band
    * windows re-verified over a sign-LSH candidate cut instead of the
    * |anchors|·N brute scan. Anchors keep ALL their bands (every
    * anchor is still looked up); the CANDIDATE side may drop
    * hot buckets via `bandOccupancyCap` (defaults ON at the
    * registry-proven 200; 0 opts out — the ns6c skew bound: a
    * clustered corpus collapses sign buckets and the banded cut
    * itself goes quadratic without it). Recall contract, stated:
    * an in-band pair whose vectors share no surviving band bucket is
    * invisible, so the mined positive may be a farther in-band
    * positive and the negative list a subset-ranked version of the
    * brute one — the triplets remain valid training pairs (every
    * surfaced cosine is exact and in-band), MlSpec pins exactly that
    * relation plus the measured recall.
    */
  def hardNegativesLsh(embeddings: DataFrame, queryMod: Int,
      posThreshold: Double, negLo: Double, nNegs: Int, nBands: Int,
      bitsPerBand: Int, dim: Int, bandOccupancyCap: Long = 200L)
      : DataFrame = {
    require(negLo < posThreshold,
      "the negative band must lie below the positive threshold")
    require(nNegs >= 1, "need at least one hard negative per anchor")
    val n = withNorm(embeddings)
    val bandedAll = lshBanded(n, nBands, bitsPerBand, dim)
    val kept = capBuckets(bandedAll, Seq("band", "bucket"),
      bandOccupancyCap)
    val cand = bandedAll
      .filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("i"), col("band"), col("bucket"))
      .join(kept.select(col("vec_id").as("j"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j")).distinct()
    val scored = Materialize.cut(cand
      .join(n.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(n.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos")))
    tripletWindows(scored, posThreshold, negLo, nNegs)
  }

  /** The triplet-mining ROUTER — the measured-volume discipline
    * ([[ivfTopKAuto]], [[binaryTopKServedAuto]]) for the brute/LSH
    * split: ONE bounded aggregate counts the corpus and its anchor
    * sample, and the brute |anchors|·(N−1) pair scan runs while that
    * volume stays within `budgetPairsTotal` (this is the exact
    * answer — ns57b's oracle gates the branch as ns57's own
    * restatement), with the [[hardNegativesLsh]] banded cut past it
    * (recall contract stated there; the routing scalar and BOTH
    * branches restate in the oracle, the ns8i/ns7j pattern).
    */
  def hardNegativesAuto(embeddings: DataFrame, queryMod: Int,
      posThreshold: Double, negLo: Double, nNegs: Int, nBands: Int,
      bitsPerBand: Int, dim: Int,
      budgetPairsTotal: Long = 50000000L,
      bandOccupancyCap: Long = 200L): DataFrame = {
    require(budgetPairsTotal > 0L, "budgetPairsTotal must be positive")
    val st = withNorm(embeddings).agg(count(lit(1)).as("n"),
        coalesce(sum(when(pmod(col("vec_id"), lit(queryMod)) === 0,
          lit(1L))), lit(0L)).as("na"))
      .head()
    // widen BEFORE the multiply (the r12 silent-wrap sweep's rule)
    val hot = BigDecimal(st.getLong(1)) *
      BigDecimal(math.max(st.getLong(0) - 1L, 0L)) >
      BigDecimal(budgetPairsTotal)
    if (!hot) hardNegatives(embeddings, queryMod, posThreshold, negLo,
      nNegs)
    else hardNegativesLsh(embeddings, queryMod, posThreshold, negLo,
      nNegs, nBands, bitsPerBand, dim, bandOccupancyCap)
  }

  /** Maximal-Marginal-Relevance rerank (Carbonell & Goldstein 1998) —
    * the diversity cut on a retrieval list: greedily select k of the
    * m candidates, each step taking the argmax of
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — relevance traded
    * against redundancy with what is already picked. The exemplar
    * selector for few-shot prompting / eval-set curation, where five
    * near-copies of the best hit are worth less than five distinct
    * ones.
    *
    * Determinism contract (the oracle restates every step): argmax is
    * on the 6 dp-rounded score with candidate-id tiebreak; the step
    * count k is a compile-time loop the SQL unrolls, so both engines
    * run the IDENTICAL greedy trajectory. λ must be a small exact
    * binary fraction (0.75) so λ and 1−λ round-trip through SQL
    * literals bit-for-bit.
    *
    * Scale shape: candidates come from [[bruteTopKForQueries]] (or any
    * ANN entry — the rerank only sees the lists), the pairwise
    * candidate-sim table is |queries|·m² rows with m fixed and small,
    * and each greedy step is one join + one window over
    * candidate-sized data. The loop's lineage depth is k — constant,
    * no checkpointing needed at list sizes.
    */
  def mmrRerank(embeddings: DataFrame, queryMod: Int, m: Int, k: Int,
      lam: Double = 0.75): DataFrame = {
    require(k >= 1 && m >= k, "need m >= k >= 1")
    val n = withNorm(embeddings)
    val queries = n.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id"))
    val rel = bruteTopKForQueries(embeddings, queries, m)
      .select(col("i"), col("j"), col("cos").as("rel"))
    mmrRerankList(rel, embeddings, k, lam)
  }

  /** The list-input form of [[mmrRerank]] — rerank an EXTERNAL
    * candidate list (i, j, rel) with the greedy λ-tradeoff, pairwise
    * candidate similarities derived from `embeddings`. This is the
    * serving-stack seam: the candidates can come from ANY retriever
    * (served ANN, served BM25, an RRF fusion — ns65 composes exactly
    * that), and the rerank only ever touches list-sized data. A
    * candidate pair where either side lacks a usable (finite,
    * nonzero) embedding contributes NO redundancy penalty, and a
    * candidate with no scorable pair gets maxsim 0 — the stated
    * degradation for hybrid lists whose lexical tower surfaced a doc
    * the embedding store is missing; the greedy loop still scores
    * every candidate at every step.
    */
  def mmrRerankList(candidates: DataFrame, embeddings: DataFrame,
      k: Int, lam: Double = 0.75): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(lam > 0 && lam < 1, "lambda must be in (0, 1)")
    val n = withNorm(embeddings)
    // the candidate lists and their pairwise sims are each read by
    // EVERY greedy step (selected, remaining, and maxsim all hang off
    // them) — without a materialization boundary the upstream
    // retrieval plan re-executes once per consumer per step (measured
    // 15.7 s at sf0.1; localCheckpointing the two list-sized tables
    // collapses the loop to window-over-tiny-data, the ns22
    // materialization discipline)
    val rel = Materialize.cut(candidates
      .select(col("i"), col("j"), col("rel")))
    // pairwise candidate sims WITHIN each query's list: |Q|·m² rows
    val sims = Materialize.cut(rel.select(col("i"), col("j").as("ja"))
      .join(rel.select(col("i"), col("j").as("jb")), Seq("i"))
      .filter(col("ja") =!= col("jb"))
      .join(n.select(col("vec_id").as("ja"), col("e").as("ea"),
        col("nrm").as("na")), Seq("ja"))
      .join(n.select(col("vec_id").as("jb"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("jb"))
      .select(col("i"), col("ja"), col("jb"), pairCos.as("sim")))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("score").desc, col("j"))
    def pick(scored: DataFrame, rank: Int): DataFrame =
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("i"), lit(rank).as("rank"), col("j"), col("score"))
    // Each greedy step is materialized (localCheckpoint of the
    // |Q|-sized pick) and `remaining` is REBUILT flat from the
    // checkpointed rel ⟂ picked-so-far union each step, instead of
    // chaining anti-joins onto the previous step's plan: the chained
    // form nests every earlier step's subtree into the next (the final
    // k = 5 plan measured ~10,700 formatted-plan lines at sf0.1, with
    // the shared subtrees re-planned and re-codegen'd per step), the
    // guide's wide-plan materialization rule. The trajectory is
    // unchanged — each step still scores exactly the not-yet-picked
    // candidates against the picked set.
    // step 1: pure relevance (max over the empty selected set is 0)
    var steps = List(Materialize.cut(pick(rel.withColumn("score",
      round(lit(lam) * col("rel"), 6)), 1)))
    for (t <- 2 to k) {
      val pickedIJ = steps.map(_.select(col("i"), col("j")))
        .reduce(_.unionAll(_))
      val remaining = rel.join(pickedIJ, Seq("i", "j"), "left_anti")
      // LEFT join + null-skipping max: a candidate whose pairs are
      // all unscorable stays in play with maxsim 0 instead of
      // silently dropping out of the step
      val maxsim = remaining
        .join(pickedIJ.withColumnRenamed("j", "ja"), Seq("i"))
        .join(sims.withColumnRenamed("jb", "j"), Seq("i", "ja", "j"),
          "left")
        .groupBy(col("i"), col("j"), col("rel"))
        .agg(coalesce(max(col("sim")), lit(0.0)).as("maxsim"))
      val scored = maxsim.withColumn("score",
        round(lit(lam) * col("rel") - lit(1 - lam) * col("maxsim"), 6))
      steps ::= Materialize.cut(pick(scored, t))
    }
    steps.reverse.reduce(_.unionByName(_)).orderBy(col("i"), col("rank"))
  }

  /** Sign bits of a vector packed into ⌈dim/64⌉ longs — bit b of word
    * w set iff component w·64+b is strictly positive. The 1-bit
    * extreme of the quantization ladder (float64 → SQ8 → PQ → sign):
    * 64 dimensions per 8-byte word, 64× smaller than the double
    * array, and Hamming distance between two packed vectors is one
    * XOR + POPCOUNT per word instead of 64 multiply-adds. Built from
    * plain when/shiftleft/bitwiseOR columns — whole-stage codegen,
    * constant-folded loop bounds, no kernel needed (the per-element
    * child is an O(1) array access, not the re-split trap).
    */
  private def packSignBits(e: Column, dim: Int): Column = {
    val nWords = (dim + 63) / 64
    val packed = array((0 until nWords).map { w =>
      (0 until math.min(64, dim - w * 64)).map { b =>
        when(element_at(e, w * 64 + b + 1) > 0, shiftleft(lit(1L), b))
          .otherwise(0L)
      }.reduce(_ bitwiseOR _)
    }: _*)
    // loud per-row guard (r9 advice, tightened to exact equality by
    // the r10 review): an overstated dim reads NULL past the array
    // end as zero bits, an UNDERSTATED dim silently ignores the tail
    // components — both degrade Hamming ranking with no error, so
    // any mismatch fails (the subVectors raise_error discipline)
    when(size(e) === dim, packed)
      .otherwise(raise_error(concat(
        lit(s"packSignBits: embedding size "),
        size(e).cast("string"), lit(s" != dim=$dim"))))
  }

  /** Sign-bit Hamming distance between two packed arrays: Σ_w
    * popcount(a_w XOR b_w) — integer arithmetic, so the candidate
    * ranking has NO float-ordering hazard at all. The word count is
    * known at plan time, so the sum is UNROLLED into static
    * element_at/xor/bit_count expressions — a zip_with/aggregate HOF
    * here is CodegenFallback and pays per-pair lambda overhead on the
    * N² scan (measured 9.3 s vs the sibling kernels' sub-second scans
    * at sf0.1; the §9 HOF rule, arity edition).
    */
  private def hamming(ba: Column, bb: Column, nWords: Int): Column =
    (0 until nWords).map { w =>
      bit_count(element_at(ba, w + 1)
        .bitwiseXOR(element_at(bb, w + 1))).cast("long")
    }.reduce(_ + _)

  /** Candidate-generate-with-SIGN-BITS, refine-with-exact top-k: rank
    * all pairs by sign-bit Hamming distance (ascending — fewer
    * differing hyperoctant coordinates ≈ closer in angle, the
    * binary-hash retrieval standard), keep `refine` per query, re-score
    * those exactly. The 100 TB posture below [[sq8TopK]]'s: the N²
    * half shuffles ⌈dim/64⌉ longs per vector (8 bytes at dim 64 —
    * 64× under the raw array, 8× under SQ8) and each pair costs
    * xor+popcount per word. Coarser than SQ8, so callers refine
    * deeper; recall is measured in-result by the registry entry.
    * Deterministic given the data (sign of each component), so the
    * whole chain is DuckDB-restatable: hamming(a,b) over 0/1 sign
    * vectors equals popcount(a)+popcount(b)−2·(a·b), which the oracle
    * states with list_dot_product — the PACKED form is spec-pinned
    * equal to that naive form on every corpus pair.
    */
  def binaryTopK(embeddings: DataFrame, dim: Int, k: Int,
      refine: Int): DataFrame = {
    require(refine >= k, "refine depth must be >= k")
    val n = withNorm(embeddings)
    // MATERIALIZED, not lazy: CollapseProject inlines the 64-when
    // packing chain through the join inputs into the per-pair ham
    // projection, re-packing BOTH vectors for every pair — measured
    // 7.7 s vs 0.7 s for the 4M-pair candidate stage at sf0.1 (the
    // §9 CollapseProject hazard, when-chain edition). The checkpoint
    // is the binary INDEX itself — ⌈dim/64⌉ longs per vector, the
    // table a serving deployment would persist anyway.
    val z = Materialize.cut(n
      .withColumn("bits", packSignBits(col("e"), dim))
      .select(col("vec_id"), col("bits")))
    val qa = z.select(col("vec_id").as("i"), col("bits").as("ba"))
    val qb = z.select(col("vec_id").as("j"), col("bits").as("bb"))
    val wApprox = Window.partitionBy(col("i"))
      .orderBy(col("ham"), col("j"))
    val cand = qa.crossJoin(qb).filter(col("i") =!= col("j"))
      .withColumn("ham", hamming(col("ba"), col("bb"), (dim + 63) / 64))
      .withColumn("hrk", row_number().over(wApprox))
      .filter(col("hrk") <= refine)
      .select(col("i"), col("j"))
    val wExact = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    cand
      .join(n.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(n.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  private[graft] val BinStatsDir = "_graft_bin_stats"

  /** Persist the packed sign-bit table — the binary tier's SERVED
    * index ([[binaryTopK]]'s localCheckpoint made durable): ⌈dim/64⌉
    * longs per vector, 8 bytes at dim 64, so a 10⁹-vector corpus
    * serves its candidate scans from an 8 GB table. Only the
    * immutable dim persists as metadata (the BM25/IVF stats-sibling
    * discipline). Append/delete story: sign bits are a pure per-row
    * function of the vector, so maintenance is exactly the base
    * table's — re-pack the touched rows; there is no cross-row state
    * to rebuild.
    */
  def writeBinaryIndex(embeddings: DataFrame, path: String,
      dim: Int): Unit = {
    // a rebuild supersedes the previous generation's stream sibling —
    // refuse on un-folded data, clear stale fold stubs
    clearSupersededSibling(
      new org.apache.hadoop.fs.Path(path).getFileSystem(
        embeddings.sparkSession.sparkContext.hadoopConfiguration),
      path, "writeBinaryIndex")
    // the quiescent single-root serve SKIPS the vec_id dedup on the
    // premise that only maintenance windows can produce duplicates
    // (the r12 ns7g fix) — make that premise an enforced invariant
    // rather than an assumption (the r12 advice finding): a build
    // input carrying duplicate vec_ids would serve duplicate
    // neighbor rows that consume rank slots. One aggregate at build
    // time, the pass that is already corpus-priced.
    val dup = withNorm(embeddings)
      .agg((count(lit(1)) - count_distinct(col("vec_id"))).as("d"))
      .head().getLong(0)
    require(dup == 0L,
      s"writeBinaryIndex: input holds $dup duplicate vec_id rows — " +
        "the served index requires unique ids (dedup upstream)")
    packForBinaryIndex(embeddings, dim)
      .write.mode("overwrite").parquet(path)
    embeddings.sparkSession.range(1).select(lit(dim).as("dim"))
      .write.mode("overwrite").parquet(s"$path/$BinStatsDir")
  }

  /** The binary index's row shape: (vec_id, bits) — shared by the
    * base build and the streamed-append batch body
    * ([[graft.streaming.VectorIngest.ingestBatchBinary]]), so the two
    * can never drift on packing.
    */
  private[graft] def packForBinaryIndex(embeddings: DataFrame,
      dim: Int): DataFrame =
    withNorm(embeddings)
      .withColumn("bits", packSignBits(col("e"), dim))
      .select(col("vec_id"), col("bits"))

  private[graft] val BinDeletedDir = "_graft_bin_deleted"
  private[ml] val BinCompactStageDir = "_graft_bin_compact_stage"

  /** Soft-delete vectors from the persisted binary index — the
    * takedown story for the scan tier, [[deleteFromIvfIndex]]'s exact
    * contract: an id-sized tombstone append, zero data files touched
    * (spec-measured byte-identical), serving masks, idempotent on
    * unknown/repeated ids, loud on NULL. The one contract difference:
    * a rebuild ([[writeBinaryIndex]]'s non-partitioned overwrite)
    * truncates the whole directory, tombstones included — a fresh
    * generation starts clean by construction.
    */
  def deleteFromBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      vecIds: DataFrame, path: String): Unit =
    ServedStore.Binary.delete(spark, vecIds, path)

  /** Reclaim the binary index's tombstone debt. The table is FLAT —
    * the scan tier has no partitions to prune — so compaction is a
    * staged full rewrite (cheap by construction: 8 bytes/vector at
    * dim 64). Crash contract, file-swap edition of the IVF stage
    * protocol: survivors stage durably under [[BinCompactStageDir]]
    * with a per-run uuid recorded in the stage's `_GRAFT_STAGE_ID`
    * marker (the commit point); the apply renames staged files into
    * the root under `graftc-<uuid>-` names and deletes only root data
    * files NOT carrying this uuid — so a replay after a mid-apply
    * crash never deletes the files it already moved, and always
    * converges on exactly the staged survivor set. Tombstone files
    * (the entry-pinned snapshot) are deleted LAST; ones appended
    * mid-run survive and keep masking. Concurrent serving stays
    * correct THROUGH the apply window: staged survivors rename in
    * BEFORE the old files drop, so a reader may see a row twice but
    * never miss one, and the serving read dedups on vec_id (bits are
    * a pure function of the vector, so the duplicate is literal) —
    * the read-side twin of the doc-length bak fallback. Refuses
    * while the stream sibling holds un-folded data: this rewrite
    * never touches streamed partitions, so dropping the tombstones
    * at the end would silently un-mask deleted rows that arrived via
    * the stream — run [[foldStreamIntoBinaryIndex]] first. Returns
    * the number of distinct tombstoned ids PROCESSED from the
    * snapshot (deletes are idempotent on unknown ids, so this counts
    * ids applied to the mask, not rows physically removed).
    */
  def compactBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    compactFlatIndex(spark, path, ServedStore.Binary, BinStage,
      "compactBinaryIndex", "foldStreamIntoBinaryIndex")

  /** The binary tier's swap stage, shared by its compaction and fold. */
  private[ml] val BinStage =
    graft.sources.StagedRewrite.SwapStage.compaction(BinCompactStageDir)

  /** The flat-table compaction core — [[compactBinaryIndex]]'s staged
    * uuid-file-swap parameterized on the store and its stage,
    * so the phash tier ([[Multimodal.compactPhashIndex]]) reuses the
    * exact crash protocol instead of re-implementing it.
    */
  private[ml] def compactFlatIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, store: ServedStore,
      stage: graft.sources.StagedRewrite.SwapStage, what: String,
      foldOp: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireStreamFolded(fs, path, what, foldOp)
    // a committed stage means the previous run died mid-apply —
    // finish from the stage first, then fall through to the normal
    // pass (post-crash tombstone appends must still be honored)
    stage.replay(fs, root)
    val snapshot = store.snapshot(fs, path)
    if (snapshot.isEmpty) return 0L
    val dead = store.idsIn(spark, snapshot)
    val nDead = dead.count()
    stage.commitFlat(fs, root, store.antiJoin(spark.read.parquet(path), dead))
    store.reclaim(fs, snapshot)
    nDead
  }

  /** Fold committed streamed-append batches INTO the binary base —
    * the flat-table fold (the IVF/BM25 siblings move partition
    * directories; here the base is ONE flat table, and at 8 bytes a
    * vector a staged full rewrite IS the cheap path): stage base ∪
    * streamed deduped on vec_id (refolds and crashed replays
    * converge — a batch whose rows already reached the base is
    * absorbed, never doubled), uuid-swap the stage in through
    * the swap stage's reader-safe apply, THEN flip the
    * [[BatchCommit.FoldedMarker]]s and drop the batch data, leaving
    * the data-less replay-ledger stubs. Move-first (the REVERSE of the IVF/BM25
    * claim order) is what the serving read's vec_id dedup buys: a
    * concurrent reader inside the fold window sees streamed rows from
    * base AND stream — duplicates, deduped — never a gap, and a
    * crash anywhere re-enters with the rows still served (hide-first
    * would black the streamed rows out for the whole rewrite and,
    * after a crash between claim and apply, indefinitely — the r11
    * review finding). Tombstones
    * are untouched: a deleted id that arrived via the stream keeps
    * masking after its rows fold into the base. After a full fold
    * the sibling holds no data, so [[compactBinaryIndex]] and
    * [[writeBinaryIndex]] proceed. Single-writer maintenance op.
    * Returns the number of batch partitions folded.
    */
  def foldStreamIntoBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    foldStreamIntoFlatIndex(spark, path, "vec_id",
      Seq("vec_id", "bits"), BinStage)

  /** The flat-table fold core — [[foldStreamIntoBinaryIndex]]'s
    * move-first staged rewrite parameterized on the id/payload
    * columns and stage, reused by the phash tier
    * ([[Multimodal.foldStreamIntoPhashIndex]]).
    */
  private[ml] def foldStreamIntoFlatIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, cols: Seq[String],
      stage: graft.sources.StagedRewrite.SwapStage): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish a crashed apply from its committed stage first
    stage.replay(fs, root)
    val sib = new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)
    val pending = BatchCommit.committed(fs, sib)
      .filter(BatchCommit.holdsData(fs, _))
    if (pending.isEmpty) return 0L
    val streamed = pending
      .map(p => spark.read.parquet(p.toString))
      .reduce(_.unionByName(_))
      .select(cols.map(col): _*)
    stage.commitFlat(fs, root, spark.read.parquet(path)
      .select(cols.map(col): _*)
      .unionByName(streamed)
      .dropDuplicates(idCol))
    // rows are in the base now — ONLY now stop serving the stream
    // copies (they'd just dedup away) and drop the batch data
    BatchCommit.markFolded(fs, pending)
    BatchCommit.dropToStub(fs, pending)
    pending.size.toLong
  }

  /** Serve top-k from the persisted sign-bit index: query bits come
    * FROM the index (a broadcast semi-join on the query ids), the
    * Hamming candidate scan reads 8-byte words off parquet, and only
    * the `refine` survivors touch the full-precision vectors for the
    * exact rerank. Bit-identical to [[binaryTopK]] over the same
    * corpus (spec-pinned): the index IS the checkpoint that operator
    * builds in memory.
    */
  def binaryTopKServed(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame, queryIds: DataFrame,
      k: Int, refine: Int): DataFrame =
    binaryTopKServedFrom(spark, path, Seq(path), embeddings, queryIds,
      k, refine)

  /** The multi-root serving core of the binary tier: bit rows from
    * every root (the base plus [[graft.streaming.VectorIngest]]'s
    * committed streamed-append partitions), tombstones always from
    * the BASE root (delete streams land there; the mask covers
    * streamed rows because it applies to the union). When duplicates
    * are possible — multi-root serving, or a binary stage directory
    * present — the read dedups on vec_id: bits are a pure function
    * of the vector, so the only duplicates are literal (a compaction
    * apply window where old∪new coexist by design, see
    * [[compactBinaryIndex]], or a crash-torn fold replay), and one
    * hash aggregate is the price of serving correctly THROUGH
    * maintenance instead of blacking out. A quiescent single-root
    * read skips it and keeps the unhardened scan→codegen plan (see
    * the in-body race argument for why the plan-time probe is
    * sufficient).
    */
  private[graft] def binaryTopKServedFrom(
      spark: org.apache.spark.sql.SparkSession, basePath: String,
      paths: Seq[String], embeddings: DataFrame, queryIds: DataFrame,
      k: Int, refine: Int): DataFrame = {
    require(refine >= k, "refine depth must be >= k")
    val (dim, z) = servedBinaryRows(spark, basePath, paths)
    binaryHammingServe(z, embeddings, queryIds, k, refine, dim)
  }

  /** The binary tier's served READ: (dim, alive bit rows) — tombstone
    * mask, conditional vec_id dedup (see the in-body race argument),
    * shared by the scan serve, the routed serve, and nothing else.
    */
  private def servedBinaryRows(
      spark: org.apache.spark.sql.SparkSession, basePath: String,
      paths: Seq[String]): (Int, DataFrame) = {
    require(paths.nonEmpty, "need at least one index root")
    val dim = spark.read.parquet(s"$basePath/$BinStatsDir")
      .head().getAs[Int]("dim")
    // tombstone mask (deleteFromBinaryIndex): masking the index side
    // covers queries too — query bits are a semi-join of the index.
    //
    // The vec_id dedup that makes serving correct THROUGH a
    // compaction/fold apply window (old∪new files coexist — literal
    // duplicates) is NOT free: it inserts an aggregate between the
    // parquet scan and the popcount cross join, and the measured
    // steady-state serve cost tripled when it ran unconditionally
    // (the r11→r12 ns7g swing: 1.04 s → 2.85 s warm at sf0.1). So
    // dedup only when duplicates are POSSIBLE: more than one root
    // (base ∪ streamed partitions overlap mid-fold by design), a
    // binary stage directory present at the base, or a
    // MIXED-GENERATION file listing. The generation check is the
    // race-free one (the r12 review noted a driver stall between a
    // stage probe and the listing could reopen the window): it reads
    // the plan's OWN file snapshot (df.inputFiles — the same
    // InMemoryFileIndex the serve will scan), and every quiescent
    // state is prefix-homogeneous — a build writes part-* files, an
    // applied compaction/fold leaves only graftc-<uuid>-* of ONE
    // uuid — while a mid-apply window (the only duplicate-bearing
    // root state) necessarily mixes generations in the listing. The
    // stage probe stays as the cheap first check (it also covers a
    // crashed mid-apply, whose listing is mixed anyway).
    val base = new org.apache.hadoop.fs.Path(basePath)
    val rawUnion = paths.map(p => spark.read.parquet(p)
        .select(col("vec_id"), col("bits")))
      .reduce(_.unionByName(_))
    // the dedup runs over the bit WORDS unpacked to long columns: an
    // array-valued aggregate buffer would force a SortAggregate pair
    // per consumer, while all-long columns keep it a plain hash
    // aggregate (max == the value on literal duplicates)
    val nw = (dim + 63) / 64
    val words = (0 until nw).map(w => s"_w$w")
    val wordAggs = words.map(w => max(col(w)).as(w))
    // explicit hardening flags, NOT frame reference equality (r16
    // advice: `x eq y` silently flips to "always materialize" if a
    // refactor returns a new identical frame on the quiescent path)
    val needsDedup = paths.size != 1 || BinStage.mayServeDuplicates(
      base.getFileSystem(spark.sparkContext.hadoopConfiguration), base,
      rawUnion.inputFiles.toSeq)
    val raw =
      if (!needsDedup)
        rawUnion
      else rawUnion
        .select(col("vec_id") +:
          words.zipWithIndex.map { case (w, i) =>
            col("bits")(i).as(w) }: _*)
        .groupBy(col("vec_id"))
        .agg(wordAggs.head, wordAggs.tail: _*)
        .select(col("vec_id"),
          array(words.map(col): _*).as("bits"))
    val tombs = ServedStore.Binary.tombstones(spark, Seq(basePath))
    val z = tombs.fold(raw)(ServedStore.Binary.antiJoin(raw, _))
    // the serve consumes the alive rows TWICE (query semi-join side +
    // candidate side of the Hamming cross join). On the quiescent
    // single-root path z is the bare parquet scan — duplicating it is
    // cheaper than a materialization job (the r11→r12 unconditional-
    // dedup lesson). But once the read is HARDENED (vec_id dedup
    // aggregate and/or tombstone anti-join), re-executing that work
    // per consumer doubles it — materialize the N bit-rows once.
    val hardened = needsDedup || tombs.isDefined
    (dim, if (hardened) Materialize.cut(z) else z)
  }

  /** The scan serve tail: |queries|·N xor+popcount candidate rank,
    * exact rerank of the `refine` survivors — [[binaryTopK]]'s shape
    * over an already-read bit table.
    */
  private def binaryHammingServe(z: DataFrame, embeddings: DataFrame,
      queryIds: DataFrame, k: Int, refine: Int, dim: Int): DataFrame = {
    val qa = z.join(queryIds.select(col("vec_id")), Seq("vec_id"),
        "left_semi")
      .select(col("vec_id").as("i"), col("bits").as("ba"))
    val qb = z.select(col("vec_id").as("j"), col("bits").as("bb"))
    val wApprox = Window.partitionBy(col("i"))
      .orderBy(col("ham"), col("j"))
    val cand = qa.crossJoin(qb).filter(col("i") =!= col("j"))
      .withColumn("ham", hamming(col("ba"), col("bb"), (dim + 63) / 64))
      .withColumn("hrk", row_number().over(wApprox))
      .filter(col("hrk") <= refine)
      .select(col("i"), col("j"))
    exactRerank(cand, embeddings, k)
  }

  /** The exact rerank tail every binary candidate generator shares:
    * join the (i, j) survivors back to the full-precision vectors,
    * 6dp cosine, per-query top-k. Linear in |cand| — the candidates
    * are the expensive part, never this.
    */
  private def exactRerank(cand: DataFrame, embeddings: DataFrame,
      k: Int): DataFrame = {
    val n = withNorm(embeddings)
    val wExact = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    cand
      .join(n.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(n.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** The binary SERVE router — the measured-volume discipline
    * ([[ivfTopKAuto]], [[graft.ml.Retrieval]]'s ns46i form) applied
    * to [[binaryTopKServed]]'s candidate scan: the scan answers every
    * query against every index row (|queries|·N xor+popcount pairs),
    * which is the right plan while that volume is affordable and the
    * WRONG one at corpus-sized query sets — the r12 verdict's top
    * residual gap. One bounded aggregate (a single row: alive index
    * size N and the distinct-query overlap nq) measures the volume;
    * under `budgetCandidates` the scan runs UNCHANGED (bit-identical
    * to [[binaryTopKServed]], so ns7f's oracle gates the branch),
    * past it candidates come from [[signBanded]]'s pigeonhole bands
    * — radius-bounded: a returned neighbor is within `maxHamming`
    * sign bits of its query, and by pigeonhole EVERY in-radius pair
    * shares a band, so with the cap disengaged the candidate set is
    * exactly the in-radius pairs (DuckDB-restatable via the
    * pc(a)+pc(b)−2·(a·b) identity — how ns7j's oracle states this
    * branch). The stated recall contract of the banded branch:
    * neighbors beyond the Hamming radius are unreachable (queries
    * with no in-radius neighbor return no rows — [[withRecall]]'s
    * full join keeps them visible), and under sign skew
    * `bandOccupancyCap` (0 = off) drops hot buckets from the
    * CANDIDATE side only — queries keep their other bands, so every
    * query is still looked up, candidates stay ≤ cap·bands·N
    * structurally (the ns7i bound), and a corpus hot enough to trip
    * it needed semantic dedup upstream ([[semDedupAuto]]). The cap
    * DEFAULTS ON (the registry-proven 100 — the r13 verdict: a
    * caller who trips the router past its budget without knowing the
    * knob must get the bounded branch, not the one ns6c measured at
    * exp 1.87 on clustered sign buckets); pass 0 to opt into the
    * exact uncapped banding. Serves the BASE root only and refuses
    * while the streamed-appends sibling holds un-folded data —
    * routing the base alone would silently omit streamed vectors
    * (r13 advice); fold first, or serve streamed indexes through
    * [[graft.streaming.VectorIngest.queryServedBinary]].
    */
  def binaryTopKServedAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame, queryIds: DataFrame,
      k: Int, refine: Int, maxHamming: Int,
      budgetCandidates: Long = 50000000L,
      bandOccupancyCap: Long = 100L): DataFrame = {
    require(refine >= k, "refine depth must be >= k")
    require(maxHamming >= 0, "maxHamming must be non-negative")
    require(budgetCandidates > 0L, "budgetCandidates must be positive")
    require(!BatchCommit.anyHoldsData(
        new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)),
      s"binaryTopKServedAuto: streamed-appends sibling " +
        s"$path$StreamSiblingSuffix holds un-folded data — serving " +
        "the base alone would omit streamed vectors; run " +
        "foldStreamIntoBinaryIndex first (or serve through " +
        "VectorIngest.queryServedBinary)")
    val (dim, z) = servedBinaryRows(spark, path, Seq(path))
    val q = queryIds.select(col("vec_id")).distinct()
    // ONE bounded aggregate: N = alive index rows, nq = queries that
    // actually resolve in the index (the same derivation the oracle
    // counts — unknown ids cost the scan nothing and must not route)
    val st = z.join(q.withColumn("_q", lit(1)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("_q")), lit(0L)).as("nq"))
      .head()
    val n = st.getLong(0)
    val nq = st.getLong(1)
    // widen BEFORE the multiply (the r12 silent-wrap sweep's rule)
    val hot = BigDecimal(nq) * BigDecimal(math.max(n - 1, 0L)) >
      BigDecimal(budgetCandidates)
    if (!hot) binaryHammingServe(z, embeddings, queryIds, k, refine, dim)
    else {
      val nb = maxHamming + 1
      require(nb <= dim, "pigeonhole needs maxHamming + 1 <= dim bands")
      val banded = signBanded(z, dim, nb)
      val keptCand = capBuckets(banded, Seq("band", "band_bits"),
        bandOccupancyCap)
      // query side NEVER capped: a query in a hot bucket keeps its
      // other bands — only hot CANDIDATES become unreachable
      val qa = banded.join(q, Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("i"), col("bits").as("ba"),
          col("band"), col("band_bits"))
      val jb = keptCand.select(col("vec_id").as("j"),
        col("bits").as("bb"), col("band"), col("band_bits"))
      val wApprox = Window.partitionBy(col("i"))
        .orderBy(col("ham"), col("j"))
      val cand = qa.join(jb, Seq("band", "band_bits"))
        .filter(col("i") =!= col("j"))
        .withColumn("ham", hamming(col("ba"), col("bb"), (dim + 63) / 64))
        .filter(col("ham") <= maxHamming)
        .select(col("i"), col("j"), col("ham"))
        // a pair agreeing on several bands appears once per band —
        // ham is a pure function of (i, j), so any survivor row works
        .dropDuplicates("i", "j")
        .withColumn("hrk", row_number().over(wApprox))
        .filter(col("hrk") <= refine)
        .select(col("i"), col("j"))
      exactRerank(cand, embeddings, k)
    }
  }

  /** Pigeonhole bands over a packed sign-bit table: each row of `z`
    * (vec_id, bits) exploded into `nb` (band, band_bits) rows. Band b
    * covers bit positions [dim·b/nb, dim·(b+1)/nb) — the same
    * uneven-boundary arithmetic as the simhash bands, unrolled at
    * plan time over the packed words (word crossings handled per
    * bit; the whole chain is shift/and/or — whole-stage codegen).
    * A band WIDER than 64 bits cannot pack into one long — Java
    * long shifts wrap their amount mod 64, which would alias bit
    * j−lo with bit j−lo−64 and collide distinct band contents into
    * one join key (the r12 review finding: exactly the
    * high-dim/small-radius regime this tier targets). Chunk the
    * band into ⌈width/64⌉ longs instead; array equality keys the
    * join identically and narrow bands stay a 1-element array.
    * Shared by the pair-mining tier and the routed serve's banded
    * branch, so the two can never drift on band boundaries.
    */
  private def signBanded(z: DataFrame, dim: Int, nb: Int): DataFrame = {
    def bandVal(b: Int): Column = {
      val lo = dim * b / nb
      val hi = dim * (b + 1) / nb
      array((lo until hi).grouped(64).map { chunk =>
        chunk.map { j =>
          shiftleft(
            shiftright(element_at(col("bits"), j / 64 + 1), j % 64)
              .bitwiseAND(lit(1L)), j - chunk.head)
        }.reduce(_ bitwiseOR _)
      }.toSeq: _*)
    }
    z.select(col("vec_id"), col("bits"),
      explode(array((0 until nb).map(b =>
        struct(lit(b).as("band"), bandVal(b).as("band_bits"))): _*))
        .as("bb"))
      .select(col("vec_id"), col("bits"),
        col("bb.band").as("band"), col("bb.band_bits").as("band_bits"))
  }

  /** Drop rows of buckets larger than `cap` — the shared
    * band-occupancy cap (0 = off) every banded tier states the same
    * way, factored so the `<=` semantics the oracles restate as a
    * windowed bucket count can never drift between copies (the r13
    * review finding: four hand-inlined copies had accumulated).
    */
  private[ml] def capBuckets(df: DataFrame, keys: Seq[String],
      cap: Long): DataFrame =
    if (cap <= 0L) df
    else {
      // reserved-name discipline (cappedHashRank/cappedIdPrefix's):
      // an input already carrying _bsz would be silently overwritten
      // and dropped
      require(!df.columns.contains("_bsz"),
        "inputs may not use the reserved working name _bsz")
      df.withColumn("_bsz", count(lit(1)).over(
        Window.partitionBy(keys.map(col): _*)))
        .filter(col("_bsz") <= cap)
        .drop("_bsz")
    }

  /** Radius-bounded near-duplicate PAIRS from the persisted sign-bit
    * index — the pigeonhole band machinery ([[graft.ml.Dedup]]'s
    * simhash discipline, proven on 60-bit phashes in ns66b) applied
    * to the packed sign bits: split the dim bits into
    * `maxHamming + 1` bands, join on (band, band_bits), verify full
    * Hamming. Exact by pigeonhole: a pair within the radius agrees
    * on SOME band, so nothing is missed (the quadratic oracle proves
    * it). The mining twin of [[binaryTopKServed]] — top-k serving
    * answers "nearest to these queries"; this answers "every
    * near-duplicate pair in the standing index" without reading a
    * single float vector.
    *
    * Scale posture, stated honestly: band selectivity is
    * 2^(dim/(maxHamming+1)) — the tier pays when the radius is small
    * relative to the signature width (dim 256 at radius 12 gives
    * 19-bit bands: random collisions vanish and candidates track the
    * true near-dup population). At dim 64 / radius 16 the 3–4-bit
    * bands collide constantly and candidate volume approaches the
    * scan's — the fixture gate covers SEMANTICS there, not the
    * asymptotics. `bandOccupancyCap` (0 = exact) is the ns5c
    * occupancy cap verbatim: buckets above the cap form no pairs, so
    * candidates are structurally ≤ cap · bands · N under ANY sign
    * skew (one dominant embedding cluster collapses its members'
    * sign bits into the same buckets — the clustered-corpus regime),
    * with the stated drop-hot-bucket recall contract. Duplicated
    * index rows (a compaction apply window) are harmless here by
    * construction: they can only duplicate (i, j) rows, which the
    * final distinct absorbs, and i &lt; j excludes self-pairs — no
    * read-side dedup needed.
    */
  def binaryNearDupPairs(spark: org.apache.spark.sql.SparkSession,
      path: String, maxHamming: Int, bandOccupancyCap: Long = 0L)
      : DataFrame = {
    require(maxHamming >= 0, "maxHamming must be non-negative")
    // the serving path reads base ∪ committed streamed partitions;
    // mining only the base would silently miss every pair involving a
    // streamed vector — refuse like compactBinaryIndex/
    // writeBinaryIndex do (the r12 review finding): fold first
    require(!BatchCommit.anyHoldsData(
        new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)),
      s"binaryNearDupPairs: streamed-appends sibling " +
        s"$path$StreamSiblingSuffix holds un-folded data — mining " +
        "the base alone would miss pairs involving streamed " +
        "vectors; run foldStreamIntoBinaryIndex first")
    val dim = spark.read.parquet(s"$path/$BinStatsDir")
      .head().getAs[Int]("dim")
    val nb = maxHamming + 1
    require(nb <= dim, "pigeonhole needs maxHamming + 1 <= dim bands")
    val nw = (dim + 63) / 64
    val raw = spark.read.parquet(path)
      .select(col("vec_id"), col("bits"))
    val z = ServedStore.Binary.mask(spark, Seq(path), raw)
    val banded = signBanded(z, dim, nb)
    minedBandPairs(banded, bandOccupancyCap, nw, maxHamming)
  }

  /** The mining join tail over a banded bit table: cap, self-join on
    * (band, band_bits), full-Hamming verify, distinct — shared by the
    * dedicated miner and its router so the pair semantics cannot
    * drift.
    */
  private def minedBandPairs(banded: DataFrame, bandOccupancyCap: Long,
      nw: Int, maxHamming: Int): DataFrame = {
    val kept = capBuckets(banded, Seq("band", "band_bits"),
      bandOccupancyCap)
    kept
      .select(col("vec_id").as("i"), col("bits").as("ba"),
        col("band"), col("band_bits"))
      .join(kept
        .select(col("vec_id").as("j"), col("bits").as("bb"),
          col("band"), col("band_bits")),
        Seq("band", "band_bits"))
      .filter(col("i") < col("j"))
      .withColumn("hamming", hamming(col("ba"), col("bb"), nw))
      .filter(col("hamming") <= maxHamming)
      .select(col("i"), col("j"), col("hamming"))
      .dropDuplicates("i", "j")
  }

  /** The binary pair-mining ROUTER — the measured-volume discipline
    * ([[graft.ml.Dedup.simhashPairsAuto]], whose banding this tier
    * reuses over packed sign bits) as the mining default: ns7i's
    * occupancy cap was a MANUAL knob, and the honest default is to
    * pay for exactness while the banded candidate volume is
    * affordable and engage the cap only when the measurement says the
    * corpus's sign buckets have collapsed. ONE bounded aggregate over
    * the (band, band_bits) occupancy histogram (≤ bands·N rows in,
    * one row out) measures Σ c·(c−1), decimal-widened BEFORE the
    * multiply; under `budgetCandidatesPerVec`·N the EXACT pigeonhole
    * banding runs (lossless — the ns7i quadratic-oracle semantics),
    * past it buckets above `bandOccupancyCap` form no pairs
    * (candidates ≤ cap·bands·N structurally, the stated
    * drop-hot-bucket recall contract). The routing scalar and both
    * branches restate in the oracle (ns7k) — and on the gate fixture
    * the router goes HOT, so the capped branch (list-slice band
    * buckets + windowed count) is hash-proven LIVE, with the cap
    * non-binding there so the output still equals the quadratic
    * restatement.
    */
  def binaryNearDupPairsAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, maxHamming: Int, bandOccupancyCap: Long,
      budgetCandidatesPerVec: Long = 128L): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be non-negative")
    require(bandOccupancyCap > 0L,
      "the routed form needs a positive bandOccupancyCap to engage")
    require(budgetCandidatesPerVec > 0L,
      "budgetCandidatesPerVec must be positive")
    require(!BatchCommit.anyHoldsData(
        new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)),
      s"binaryNearDupPairsAuto: streamed-appends sibling " +
        s"$path$StreamSiblingSuffix holds un-folded data — mining " +
        "the base alone would miss pairs involving streamed " +
        "vectors; run foldStreamIntoBinaryIndex first")
    val dim = spark.read.parquet(s"$path/$BinStatsDir")
      .head().getAs[Int]("dim")
    val nb = maxHamming + 1
    require(nb <= dim, "pigeonhole needs maxHamming + 1 <= dim bands")
    val nw = (dim + 63) / 64
    val raw = spark.read.parquet(path)
      .select(col("vec_id"), col("bits"))
    val z = ServedStore.Binary.mask(spark, Seq(path), raw)
    // ONE scan feeds the measurement AND both branches
    val banded = Materialize.cut(signBanded(z, dim, nb))
    val st = banded.groupBy(col("band"), col("band_bits"))
      .agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(col("c").cast("decimal(38,0)") * (col("c") - 1)),
          lit(0).cast("decimal(38,0)")).as("cand"),
        coalesce(sum(col("c")), lit(0L)).as("nbn"))
      .head()
    // every alive row emits exactly nb band rows, so Σc = nb·N
    val n = st.getLong(1) / nb
    val hot = BigDecimal(st.getDecimal(0)) >
      BigDecimal(budgetCandidatesPerVec) * n
    minedBandPairs(banded, if (hot) bandOccupancyCap else 0L, nw,
      maxHamming)
  }

  /** Annotate an approximate top-k result with per-query recall against
    * the exact top-k: recall_i = |approx_i ∩ brute_i| / |brute_i|.
    * Makes recall a column of the ANN result itself, so a driver
    * rows-only check still surfaces a recall collapse (the number is in
    * the dumped parquet, not only in a ScalaTest assertion).
    *
    * Two properties the naive per-row annotation lacks:
    *  - NO SURVIVORSHIP BIAS: the final join is FULL, so a query vector
    *    with zero ANN candidates (isolated in every band/cell) appears
    *    as a row with recall=0 and null neighbor columns instead of
    *    silently vanishing — dropped vectors are exactly the recall
    *    failures the metric exists to expose.
    *  - BOUNDED COST: `sampleMod` restricts the exact reference to
    *    query vectors with i % sampleMod == 0. The brute pass is the
    *    quadratic part, so sampling divides its cost by sampleMod —
    *    the standard way recall is measured at corpus scale (unsampled
    *    vectors keep their ANN rows with a null recall).
    */
  def withRecall(approx: => DataFrame, brute: DataFrame,
      sampleMod: Int = 1): DataFrame = {
    // BOTH inputs feed two consumers: approx drives the hit count AND
    // the final full join, bruteIds drives the hit semi-join AND the
    // per-query truth counts. Without a cut the ENTIRE approximate
    // pipeline and the N²-window brute reference each execute twice
    // per gate — the single largest re-derivation in the registry
    // (every ANN entry wraps itself in this). Both frames are
    // top-k-sized (≤ N·k rows), so materializing them is cheap at any
    // scale. The brute reference is INDEPENDENT of the approximate
    // side, so the two cuts overlap: `approx` is by-name, so a
    // caller's fit jobs and serve-construction collects evaluate HERE,
    // beside the N²/sampleMod reference pass, and the gate pays
    // max(approx side, brute) wall instead of their sum.
    val Seq(bruteIds, ap) = Materialize.overlap(Seq(
      () => Materialize.cut(
        brute.filter(pmod(col("i"), lit(sampleMod)) === 0)
          .select(col("i"), col("j"))),
      () => Materialize.cut(approx)))
    val hits = ap.select(col("i"), col("j"))
      .join(bruteIds, Seq("i", "j"), "left_semi")
      .groupBy(col("i")).agg(count(lit(1)).as("n_hits"))
    val recalls = bruteIds.groupBy(col("i")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("i"), "left")
      .select(col("i"),
        round(coalesce(col("n_hits"), lit(0)).cast("double")
          / col("n_true"), 4).as("recall"))
    ap.join(recalls, Seq("i"), "full")
  }

  /** [[nearDupPairs]]'s scale path: LSH band-collision candidates
    * re-scored with the exact cosine, instead of the all-pairs cross
    * join — candidate volume is Σ|bucket|² ≪ N², the same trade the
    * dedup operators make. Approximate: a qualifying pair whose
    * vectors share no band bucket is missed (recall-vs-brute is
    * spec-asserted; the brute form stays the exactness baseline).
    */
  def nearDupPairsLsh(embeddings: DataFrame, threshold: Double,
      nBands: Int, bitsPerBand: Int, dim: Int,
      bandOccupancyCap: Long = 200L): DataFrame =
    lshScoredCandidates(withNorm(embeddings), nBands, bitsPerBand, dim,
      ordered = true, bandOccupancyCap)
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos"))

  /** The embedding near-dup ROUTER — the measured-volume discipline
    * ([[graft.ml.Dedup.simhashPairsAuto]]) for the brute/LSH split:
    * the exact all-pairs scan ([[nearDupPairs]]) is the right answer
    * while its candidate volume N·(N−1)/2 stays within
    * `budgetPairsPerVec`·N, and the sign-LSH banded cut
    * ([[nearDupPairsLsh]], a SUBSET by construction — recall is the
    * stated price, measured by MlSpec) is the only affordable shape
    * past it. The measurement is ONE count over the
    * degenerate-filtered vectors — the cheapest router in the family,
    * because brute-force candidate volume is a pure function of N —
    * and the condition (N > 2·budget + 1 ⇔ pairs > budget·N)
    * restates as one scalar in the oracle, selecting between the two
    * branch restatements (both independently hash-gated as ns6/ns6b),
    * so the routing decision itself is driver-proven (ns6c). Unlike
    * the capped routers this one changes RECALL when it routes — the
    * docstring contract, not a silent loss: callers needing exactness
    * past the budget must raise the budget knowingly. Within the LSH
    * branch `bandOccupancyCap` is the skew bound: without it a
    * clustered corpus collapses into a few sign buckets and the
    * banded cut itself goes quadratic (measured exp 1.87, round 13) —
    * capped, candidates are ≤ cap·bands·N under ANY clustering, at
    * the further stated cost that hot-bucket pairs are unreachable.
    * The cap DEFAULTS ON (the registry-proven 200 — the r13 verdict's
    * safe-default rule for every banded fallback branch); pass 0 to
    * opt into the uncapped banding knowingly.
    */
  def nearDupPairsAuto(embeddings: DataFrame, threshold: Double,
      nBands: Int, bitsPerBand: Int, dim: Int,
      budgetPairsPerVec: Long = 512L,
      bandOccupancyCap: Long = 200L): DataFrame = {
    require(budgetPairsPerVec > 0, "budgetPairsPerVec must be positive")
    val cnt = withNorm(embeddings).count()
    val hot = cnt > 2L * budgetPairsPerVec + 1L
    if (hot) nearDupPairsLsh(embeddings, threshold, nBands,
      bitsPerBand, dim, bandOccupancyCap)
    else nearDupPairs(embeddings, threshold)
  }

  /** Seed centroids for IVF: the vectors whose vec_id < nCells —
    * deterministic, and the Lloyd init for [[fitCentroids]].
    */
  def seedCentroids(embeddings: DataFrame, nCells: Int): DataFrame =
    // the nCells SMALLEST vec_ids, not `vec_id < nCells`: a sparse or
    // hash-valued id space would make the latter select zero centroids
    // and every downstream query silently return empty (for dense
    // 0-based ids the two are identical)
    withNorm(embeddings).orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell"), col("e").as("ce"),
        col("nrm").as("cn"))

  /** Ranked centroid assignment by cosine (deterministic cell-id
    * tiebreak): the `probes` nearest cells per vector, with `crk`
    * (1 = nearest) and `ccos` kept so callers can read the assignment
    * objective. One vector×centroid cosine pass — centroids broadcast,
    * cost linear in N regardless of probes.
    */
  private def assignRanked(n: DataFrame, cents: DataFrame,
      probes: Int): DataFrame = {
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell"))
    n.crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(dot(col("e"), col("ce")) / (col("nrm") * col("cn")), 6))
      .withColumn("crk", row_number().over(assignW))
      .filter(col("crk") <= probes)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"),
        col("ccos"), col("crk"))
  }

  /** Nearest-centroid assignment by cosine (deterministic cell-id
    * tiebreak): (vec_id, e, nrm, cell, ccos). Centroids broadcast — the
    * expensive join is vector×centroid, linear in N.
    */
  def assignCells(embeddings: DataFrame, cents: DataFrame): DataFrame =
    assignRanked(withNorm(embeddings), cents, probes = 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"), col("ccos"))

  /** Spherical k-means (Lloyd) over the embedding column: assign by
    * cosine, recenter on the per-cell mean, repeat. Each round is one
    * broadcast assignment pass plus one (cell, dim-position) average —
    * posexplode shuffles N·dim (cell, pos, value) triples, which is
    * how you compute an element-wise mean without collecting anything.
    * `localCheckpoint` cuts the per-round lineage like Dedup.clusters.
    *
    * At 100 TB k-means is fit OFFLINE on a hash-sampled slice (the
    * centroids are a model, not a query result) and the fitted table
    * is broadcast at query time — which is exactly the shape here:
    * pass a sampled frame to fit, the full frame to
    * [[ivfTopKWithCentroids]].
    */
  def fitCentroids(embeddings: DataFrame, nCells: Int, iters: Int)
      : DataFrame = {
    val spark = embeddings.sparkSession
    // two generation scopes (the Dedup.clusters shape, r16 ADVICE):
    // the normalized input survives the whole loop and is freed once
    // the fit returns; superseded centroid generations are freed per
    // round — without reclamation a long serve session accumulates
    // one centroid table per Lloyd round plus the full normalized
    // copy until GC happens to trigger the ContextCleaner
    val nCkpt = new GenCheckpointer(spark, reliable = false)
    val centCkpt = new GenCheckpointer(spark, reliable = false)
    // normalize ONCE: every Lloyd round re-reading the source would
    // re-scan parquet and re-run the cast+norm projection iters times
    // (the pcaTopComponent/fitPqCodebook sibling of the ns22
    // materialization discipline); the checkpointed (vec_id, e, nrm)
    // rows are what every round's assignment actually consumes
    val n = nCkpt.cut(withNorm(embeddings))
    var cents = centCkpt.cut(n.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell"), col("e").as("ce"),
        col("nrm").as("cn")))
    for (_ <- 0 until iters) {
      val assigned = assignRanked(n, cents, probes = 1)
      val mean = assigned
        .select(col("cell"), posexplode(col("e")))
        .groupBy(col("cell"), col("pos"))
        // round the mean: double-sum accumulation order is partition-
        // dependent, and an unrounded last-ulp wobble would flip
        // near-boundary cell assignments between otherwise identical
        // runs — 6 decimals is far below any real assignment margin
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("ce"))
      cents = centCkpt.cut(mean
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
        // a cell whose members cancel to the zero vector has no
        // direction — drop it rather than emit undefined cosines
        // (the shared finitePositiveNorm guard)
        .filter(finitePositiveNorm(col("cn"))))
    }
    // the final cents generation is independently materialized and the
    // caller consumes it — free only the normalized input (centCkpt is
    // deliberately never closed, the Dedup.clusters/bfsHops pattern)
    nCkpt.close()
    cents
  }

  /** IVF ANN given a fitted (or seeded) centroid table: assign every
    * vector to its cell, search only within the cell. Approximate by
    * construction (recall lost at cell boundaries); the per-cell
    * self-join is Σ|cell|² ≪ N².
    */
  def ivfTopKWithCentroids(embeddings: DataFrame, cents: DataFrame,
      k: Int): DataFrame = {
    // both sides of the intra-cell join read the assignment;
    // materialize the N×|cents| cosine pass once (the semDedup /
    // ivfTopKAuto single-assignment-pass discipline)
    val assigned = Materialize.cut(assignCells(embeddings, cents))
    val a = assigned.select(col("vec_id").as("i"), col("e").as("ea"),
      col("nrm").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("j"), col("e").as("eb"),
      col("nrm").as("nb"), col("cell"))
    val w = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    a.join(b, Seq("cell")).filter(col("i") =!= col("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("cell"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("i"), col("cell"), col("rk"), col("j"), col("cos"))
  }

  /** IVF with the deterministic seed centroids (no training pass) —
    * the cheap default; [[fitCentroids]] + [[ivfTopKWithCentroids]] is
    * the quality path.
    */
  def ivfTopK(embeddings: DataFrame, nCells: Int, k: Int): DataFrame =
    ivfTopKWithCentroids(embeddings, seedCentroids(embeddings, nCells), k)

  /** The IVF self-search ROUTER — the measured-volume discipline
    * ([[graft.ml.Dedup.simhashPairsAuto]]) on the SERVE side of the
    * cell prune: intra-cell candidate volume is Σ occ·(occ−1), which
    * is "≪ N²" only while the assignment spreads — on the clustered
    * corpus one cell holds a constant fraction of N and the serve
    * measured exp 1.31 (the ns44 floor, on the search side). ONE
    * bounded aggregate over the ≤ nCells assignment counts measures
    * it; under `budgetCandidatesPerQuery`·N the exact intra-cell scan
    * runs, past it the CANDIDATE side of each cell is capped to its
    * `cellCandidateCap` smallest-vec_id members — candidates ≤
    * cap·N, structurally linear under any clustering, and
    * deterministic, so the whole router hash-gates (ns8i: the oracle
    * restates the volume test and both branches). Every query is
    * still answered; the stated recall contract is that within a
    * hot cell only the cap-prefix members are FINDABLE as neighbors
    * — an arbitrary (id-order) subset, which is honest budget
    * degradation, not a quality path: a cell hot enough to trip this
    * router is a cell that needed semantic dedup first
    * ([[semDedupAuto]] — same measurement, upstream cure), and the
    * quality knobs (finer fitted centroids via [[fitCentroids]],
    * multi-probe) remain the recall tools.
    */
  def ivfTopKAuto(embeddings: DataFrame, nCells: Int, k: Int,
      cellCandidateCap: Long, budgetCandidatesPerQuery: Long = 256L)
      : DataFrame = {
    require(cellCandidateCap > 0L,
      "the routed form needs a positive cellCandidateCap to engage")
    require(budgetCandidatesPerQuery > 0L,
      "budgetCandidatesPerQuery must be positive")
    val assigned = Materialize.cut(assignCells(embeddings,
      seedCentroids(embeddings, nCells)))
    val st = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(col("c").cast("decimal(38,0)") * (col("c") - 1)),
          lit(0).cast("decimal(38,0)")).as("cand"),
        coalesce(sum(col("c")), lit(0L)).as("n"))
      .head()
    val hot = BigDecimal(st.getDecimal(0)) >
      BigDecimal(budgetCandidatesPerQuery) * st.getLong(1)
    val a = assigned.select(col("vec_id").as("i"), col("e").as("ea"),
      col("nrm").as("na"), col("cell"))
    val bAll = assigned.select(col("vec_id").as("j"),
      col("e").as("eb"), col("nrm").as("nb"), col("cell"))
    // the cap-prefix itself must not reintroduce the hot-cell
    // serialization it exists to bound: a per-cell row_number window
    // sorts the dominant cell through ONE task — exactly on the corpus
    // that trips this branch. Corpus.cappedIdPrefix computes the same
    // smallest-vec_id prefix with the monotone-bucket decomposition
    // (per-(cell, bucket) ranks + histogram offsets), bit-identical
    // kept set, no single-task sort — so the ns8i oracle's windowed
    // restatement gates it unchanged.
    val b =
      if (!hot) bAll
      else Corpus.cappedIdPrefix(bAll, "j", Seq("cell"),
        cellCandidateCap)
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    a.join(b, Seq("cell")).filter(col("i") =!= col("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("cell"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("i"), col("cell"), col("rk"), col("j"), col("cos"))
  }

  /** Multi-probe IVF: the INDEX side keeps each vector in its single
    * nearest cell, but each QUERY vector probes its `probes` nearest
    * cells — the standard fix for recall lost at cell boundaries,
    * which single-probe IVF can never recover at fixed nCells. Both
    * sides come from ONE ranked assignment pass (the index is the
    * crk=1 slice), so probing costs no extra centroid scan; the pair
    * space grows to ~probes·Σ|cell|·|cell| query-side rows, still
    * ≪ N² for probes ≪ nCells. A (query, neighbor) pair appears at
    * most once — the neighbor lives in exactly one cell — so no
    * dedup pass is needed, and the candidate set is a superset of the
    * single-probe candidates (the crk=1 cell is always probed):
    * recall is monotone non-decreasing in `probes`, spec-asserted.
    */
  def ivfTopKMultiProbe(embeddings: DataFrame, cents: DataFrame,
      k: Int, probes: Int): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    // ONE ranked assignment pass by construction — and one EXECUTION
    // too: the query side and the crk=1 index slice both consume it,
    // so materialize the N·probes assignment rows once
    val ranked = Materialize.cut(
      assignRanked(withNorm(embeddings), cents, probes))
    val index = ranked.filter(col("crk") === 1)
      .select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb"), col("cell"))
    val queries = ranked.select(col("vec_id").as("i"), col("e").as("ea"),
      col("nrm").as("na"), col("cell"))
    val w = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    queries.join(index, Seq("cell")).filter(col("i") =!= col("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** Persist the IVF index: vectors + norms written ONCE, partitioned
    * by cell directory. Every in-memory IVF variant above recomputes
    * the assignment per query run — fine for batch self-joins, wrong
    * for serving: at 100 TB the index build is the expensive pass and
    * queries arrive later and smaller. The `cell=<id>/` layout makes
    * each probe a PARTITION-PRUNED read — a probes-cells query lists
    * and decodes only those directories, never the corpus.
    */
  /** A fresh build at `path` SUPERSEDES any previous index generation
    * there — and the streamed-appends sibling belongs to that old
    * generation: its data partitions were assigned/encoded against
    * the OLD models (serving them against the new would corrupt
    * results), and its fold stubs are the OLD generation's
    * BatchCommit replay ledger (keeping them would absorb a new
    * stream's batch ids as already-committed replays, silently
    * dropping the batches — found by the full-registry gate when a
    * rebuild in a fresh session met the previous session's stubs).
    * So: REFUSE while the sibling still holds data (folding or
    * deleting it is the operator's explicit decision — a silent drop
    * here could lose streamed rows the caller expected the rebuild
    * corpus to include), and delete a stub-only sibling.
    */
  private[ml] def clearSupersededSibling(
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      what: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)
    require(!BatchCommit.anyHoldsData(fs, root),
      s"$what: streamed-appends sibling $root holds data from a " +
        "previous index generation — fold it into the old base or " +
        "delete it explicitly before rebuilding")
    fs.delete(root, true)
    ()
  }

  def writeIvfIndex(embeddings: DataFrame, cents: DataFrame,
      path: String): Unit = {
    clearSupersededSibling(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(
        embeddings.sparkSession.sparkContext.hadoopConfiguration),
      path, "writeIvfIndex")
    // unique vec_ids enforced at build (the writeBinaryIndex/
    // writeIvfPqIndex discipline): the delete mask is id-keyed, and
    // duplicate ids would serve duplicate neighbor rows consuming
    // rank slots. One aggregate on the already-corpus-priced pass.
    val dup = withNorm(embeddings)
      .agg((count(lit(1)) - count_distinct(col("vec_id"))).as("d"))
      .head().getLong(0)
    require(dup == 0L,
      s"writeIvfIndex: input holds $dup duplicate vec_id rows — " +
        "the served index requires unique ids (dedup upstream)")
    assignCells(embeddings, cents)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // the centroid table IS the index's assignment function — persist
    // it with the data (underscore prefix: invisible to the parquet
    // scan) so appends can never silently use a drifted fit
    cents.write.mode("overwrite").parquet(s"$path/$CentroidsDir")
  }

  private val CentroidsDir = "_graft_centroids"

  /** Incrementally maintain a persisted IVF index: assign a NEW batch
    * of vectors to the index's own stored centroids and APPEND them
    * into their `cell=` directories. No refit, no rewrite — cells the
    * batch does not touch keep their exact existing files (spec-
    * measured, the MergePruneSpec pattern), so the maintenance cost is
    * proportional to the batch, never the corpus: the incremental
    * counterpart of [[writeIvfIndex]]'s build-once, completing the
    * same story ns34 tells for dedup and q66/q69 for aggregates.
    * Because assignment is a pure function of the (immutable) stored
    * centroids, querying the appended index is IDENTICAL to querying a
    * from-scratch build of the union corpus — recall cannot drift, it
    * is the same index. (What an append cannot do is adapt the
    * centroids to a shifting embedding distribution — that is a refit,
    * i.e. a new [[writeIvfIndex]], by design.)
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
      newEmbeddings: DataFrame, path: String): Unit = {
    ServedStore.requireAppendable(spark, path, "appendIvfIndex")
    requireFreshIds(spark, newEmbeddings, path, "appendIvfIndex")
    val cents = spark.read.parquet(s"$path/$CentroidsDir")
    assignCells(newEmbeddings, cents)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** The manual-append uniqueness guard shared by [[appendIvfIndex]]
    * and [[appendIvfPqIndex]]: the build writers enforce unique
    * vec_ids as an invariant the delete mask and the routed serves
    * depend on, and an un-fingerprinted manual append re-run after a
    * partial failure is exactly how duplicates would sneak back in
    * (session review). One aggregate over a column-pruned id probe —
    * in-batch duplicates and base overlap in the same pass; priced
    * like one extra id scan per maintenance call, which is what a
    * correctness invariant is worth. (Streamed appends are exempt by
    * construction: BatchCommit absorbs replays by fingerprint.)
    */
  private def requireFreshIds(spark: org.apache.spark.sql.SparkSession,
      newEmbeddings: DataFrame, path: String, what: String): Unit = {
    val st = withNorm(newEmbeddings).select(col("vec_id"))
      .join(spark.read.parquet(path).select(col("vec_id"))
        .withColumn("_in", lit(1)), Seq("vec_id"), "left")
      .agg((count(lit(1)) - count_distinct(col("vec_id"))).as("d"),
        coalesce(sum(col("_in")), lit(0L)).as("o"))
      .head()
    require(st.getLong(0) == 0L,
      s"$what: batch holds ${st.getLong(0)} duplicate vec_id rows — " +
        "the served index requires unique ids (dedup upstream)")
    require(st.getLong(1) == 0L,
      s"$what: ${st.getLong(1)} batch vec_ids are already indexed — " +
        "a re-run append would duplicate them (the index is not a " +
        "replay ledger; route replayable feeds through the streamed " +
        "ingest, which absorbs them by fingerprint)")
  }

  private[ml] val DeletedDir = "_graft_deleted"

  /** The streamed-appends sibling suffix — ONE definition for the
    * convention [[graft.streaming.VectorIngest]] /
    * [[graft.streaming.Bm25Ingest]] write and the compactors guard
    * against: if the naming ever drifted between the two modules, the
    * compaction refusal would silently stop matching and deleted rows
    * could resurface from streamed partitions.
    */
  private[graft] val StreamSiblingSuffix = "_stream"

  /** Soft-delete vectors from a persisted IVF or IVF-PQ index: the
    * ids land in an underscore-prefixed tombstone table beside the
    * data (invisible to the cell scan — the [[writeIvfIndex]] sibling-
    * dir discipline) and every serving read anti-joins its candidates
    * against them. NO `cell=` partition is rewritten — a takedown
    * against a 100 TB standing index costs one id-sized append, never
    * a rebuild, and untouched files stay byte-identical (spec-
    * measured). This is the reference's soft-delete idea
    * (PodioApiGateway.py:161-178) applied to the index tier.
    *
    * Semantics: deletion is logical and IDEMPOTENT — deleting an
    * unknown or already-deleted id is a no-op (the tombstone matches
    * nothing new), matching REST DELETE semantics; an existence
    * pre-check would cost a corpus-wide id scan, which is exactly
    * what a delete must not cost. A NULL id fails loudly (a null
    * tombstone matches nothing and would silently hide the caller's
    * bug). Tombstones are compaction debt: serving equals a rebuild
    * without the deleted vectors (the gate proves it), but the dead
    * rows still occupy storage until the next [[writeIvfIndex]]
    * refit. Re-appending a deleted vec_id resurrects nothing — the
    * tombstone also masks the new rows — so resurrection requires a
    * rebuild, stated here rather than discovered.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      vecIds: DataFrame, path: String): Unit =
    ServedStore.Ivf.delete(spark, vecIds, path)

  /** The bucket stage's directory (a [[graft.sources.StagedRewrite]]
    * name; crash specs build stage states by hand).
    */
  private[ml] val CompactStageDir =
    graft.sources.StagedRewrite.BucketStageDir

  /** isin over a partition column in its ON-DISK inferred type: the
    * directory value `cell=5` reads back as int, and the literals
    * must match that type for partition pruning to engage (a cast on
    * the COLUMN side defeats it) — one adapter for every compaction/
    * fold rewrite site, so the pruning subtlety lives once.
    */
  private[ml] def partitionLits(df: DataFrame, c: String,
      vals: Seq[Long]): Column =
    col(c).isin(vals.map[Any] { v =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType => v.toInt
        case _ => v
      }
    }: _*)

  /** The posting folds' shared staging (IVF cells, BM25 buckets): the
    * base rows of the partitions `rows` touch ∪ `rows`, DISTINCT — so
    * a refold of rows a crashed run already applied converges instead
    * of duplicating — rewritten through the bucket stage.
    */
  private[ml] def foldIntoBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, partCol: String, rows: DataFrame): Unit = {
    val idx = spark.read.parquet(path)
    // bounded driver action: distinct touched partitions (≤ their count)
    val touched = rows.select(col(partCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    graft.sources.StagedRewrite.rewriteBuckets(spark, path, partCol,
      idx.filter(partitionLits(idx, partCol, touched))
        .unionByName(rows).distinct(), touched)
  }

  /** The fold entry's shared claim step: list the stream sibling's
    * COMMITTED batch partitions that still hold data (folded stubs
    * are data-less), then flip each out of serving with the
    * [[BatchCommit.FoldedMarker]] before any row moves — both folds
    * share this so the hide-first crash contract lives once.
    */
  private[ml] def claimPendingBatches(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = {
    val pending = BatchCommit.committed(fs, root)
      .filter(BatchCommit.holdsData(fs, _))
    BatchCommit.markFolded(fs, pending)
    pending
  }

  /** The compactors' refusal while the streamed-appends sibling holds
    * un-folded data: the tombstones also mask streamed rows, which a
    * base compaction never rewrites, so dropping them would silently
    * un-mask deleted rows — `foldOp` must drain the sibling first.
    * Data-less fold stubs (the replay ledger) no longer guard anything.
    */
  private[ml] def requireStreamFolded(fs: org.apache.hadoop.fs.FileSystem,
      path: String, what: String, foldOp: String): Unit =
    require(!BatchCommit.anyHoldsData(fs,
        new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)),
      s"$what: streamed-appends sibling " +
        s"$path$StreamSiblingSuffix holds un-folded data — compacting " +
        "the base alone would un-mask deleted rows in streamed " +
        s"partitions; run $foldOp first")

  /** Fold the streamed-appends sibling INTO the base index, so a
    * standing 100 TB index never needs a rebuild to become compactable
    * (the r9 remediation was "fresh writeIvfIndex"): every committed
    * `ingest_batch=` partition's rows move into their base `cell=`
    * directories through the same durable-stage protocol the
    * compactors use, and the partition is left as a data-less STUB
    * whose `_SUCCESS`/`_GRAFT_BATCH_SIG` keep the BatchCommit replay
    * ledger alive. Works unchanged for raw and PQ bases (the stage
    * carries whatever columns the batches hold). Tombstones are
    * untouched — the mask covers the rows in their new home exactly as
    * in the old, and the next [[compactIvfIndex]] (now permitted: the
    * sibling holds no data) reclaims them physically.
    *
    * CRASH CONTRACT: each pending partition is first marked
    * [[BatchCommit.FoldedMarker]] — an atomic visibility flip that
    * makes serving skip it, so folded rows are NEVER visible twice
    * (base and stream simultaneously); from the mark until the fold
    * completes those rows are temporarily absent from serving, the
    * honest maintenance gap, and any crash leaves the
    * marked-but-still-data partitions as a durable worklist the next
    * fold entry resumes. The stage write unions base rows of the
    * touched cells with the batch rows DISTINCT, so a refold of rows a
    * crashed run already applied converges instead of duplicating.
    * Batch data is deleted LAST, after the apply — every earlier crash
    * point leaves either the old state (unmarked), the hidden state
    * (marked, data intact), or the applied state (marked, data intact,
    * rows also in base — distinct absorbs). Single-writer maintenance
    * op, concurrent with the append stream: folding touches only the
    * entry-snapshot partitions; batches committed mid-fold stay served
    * from the sibling. Returns the number of partitions folded.
    */
  def foldStreamIntoIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a committed stage (from a crashed fold OR compaction) replays
    // first — the stage, not the index, is the source of truth for
    // its dirty cells
    graft.sources.StagedRewrite.replayBuckets(spark, path, "cell")
    val root = new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)
    // HIDE first: claimPendingBatches flips each partition out of the
    // serving union before any row lands in the base
    val pending = claimPendingBatches(fs, root)
    if (pending.isEmpty) return 0L
    foldIntoBuckets(spark, path, "cell", pending
      .map(p => spark.read.parquet(p.toString)).reduce(_.unionByName(_)))
    // drop the data LAST, keep the stub (the replay ledger)
    BatchCommit.dropToStub(fs, pending)
    pending.size.toLong
  }

  /** Reclaim the compaction debt [[deleteFromIvfIndex]] accrues:
    * physically rewrite ONLY the `cell=` partitions that contain
    * tombstoned rows (detected by a column-pruned (vec_id, cell)
    * scan), drop any cell directory left empty, then drop exactly the
    * tombstone FILES this run applied (a file-list snapshot pinned at
    * entry — tombstones appended concurrently by a delete stream land
    * in new files, survive the cleanup, and keep masking until the
    * next compaction). Cost follows the DIRTY cells, never the
    * corpus — clean cells keep their exact files (spec-measured
    * byte-identical). After compaction a formerly-deleted vec_id MAY
    * be re-appended — its physical rows are gone, so it is a
    * genuinely new vector; before compaction the tombstone still
    * masks it. Single-writer maintenance op, like the append paths.
    * Returns the number of cell partitions rewritten or removed.
    *
    * CRASH CONTRACT (the r9 review tightened this): the dirty cells'
    * survivors are first staged DURABLY under `_graft_compact_stage`
    * and committed with a dirty-partition marker; only then does the
    * dynamic partition overwrite touch the index, and the tombstones
    * are deleted LAST. A crash anywhere outside the overwrite's own
    * delete-then-rename commit leaves serving result-identical (the
    * tombstones still mask, uncommitted stages are discarded); a
    * crash INSIDE that commit can leave a dirty cell's files
    * half-replaced — serving those cells is degraded (missing
    * survivors) until the next compactIvfIndex entry, which REPLAYS
    * the apply from the committed stage and restores them exactly
    * (without the stage, a re-run would mis-detect the damaged cell
    * as clean and drop the tombstones over lost rows). Re-runs
    * therefore always converge, and new deletions appended after a
    * crash survive into the post-replay pass.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a committed stage means the previous run died mid-apply: finish
    // the apply FROM THE STAGE first (restoring any dirty cell the
    // crashed overwrite half-replaced), but do NOT touch the
    // tombstones here — deletions appended after the crash must
    // survive into the normal pass below
    graft.sources.StagedRewrite.replayBuckets(spark, path, "cell")
    // pin the tombstone table AS A FILE LIST at entry: the mask this
    // run applies is exactly these files, and the final cleanup
    // deletes exactly these files — a tombstone appended concurrently
    // by a startDeletes stream lands in a NEW file, survives the
    // cleanup, and keeps masking until the next compaction (deleting
    // the whole directory here would silently discard it — r9 advice)
    val snapshot = ServedStore.Ivf.snapshot(fs, path)
    if (snapshot.isEmpty) 0L
    else {
        // a streamed-appends sibling HOLDING DATA serves through the
        // SAME tombstone table (the mask covers the union read), so
        // dropping the tombstones here would silently un-mask deleted
        // rows held in streamed partitions this compaction never
        // rewrites — refuse loudly. Once foldStreamIntoIvfIndex has
        // drained every batch to a stub, the sibling no longer guards
        // anything and compaction proceeds.
        requireStreamFolded(fs, path, "compactIvfIndex",
          "foldStreamIntoIvfIndex")
        val dead = ServedStore.Ivf.idsIn(spark, snapshot)
        val idx = spark.read.parquet(path)
        // bounded driver action: the distinct dirty-cell ids (≤ nCells)
        val dirty = idx.select(col("vec_id"), col("cell"))
          .join(dead, Seq("vec_id"))
          .select(col("cell").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // stage the survivors DURABLY before touching any index file
        // (localCheckpoint would die with the driver — the stage is
        // what makes a mid-overwrite crash recoverable); partitionLits
        // keeps the rewrite scan partition-pruned
        if (dirty.nonEmpty)
          graft.sources.StagedRewrite.rewriteBuckets(spark, path, "cell",
            idx.filter(partitionLits(idx, "cell", dirty))
              .join(dead, Seq("vec_id"), "left_anti"), dirty)
        // tombstones go LAST: every earlier crash point leaves them in
        // place, so the mask keeps serving correct and a re-run (which
        // replays any committed stage first) converges. Delete ONLY
        // the snapshotted files — later-appended tombstones stay.
        ServedStore.Ivf.reclaim(fs, snapshot)
        dirty.length.toLong
    }
  }

  /** Query a persisted index: rank each query's `probes` nearest
    * cells, then scan ONLY those `cell=` directories (the probed cell
    * list — ≤ |queries|·probes entries, the bounded driver action of
    * the serving path — becomes a static `isin` partition filter;
    * IvfIndexSpec asserts the scan lists a fraction of the
    * directories). For corpus-sized query batches skip the collect
    * and equi-join on cell instead — the directories stop mattering
    * once every cell is probed anyway.
    */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, cents: DataFrame, k: Int,
      probes: Int): DataFrame =
    queryIvfIndexPaths(spark, Seq(path), queries, cents, k, probes)

  // ----------------------------------------------- product quantization

  /** Per-vector subspace slices: (vec_id, sub, sv) with `sv` the
    * sub-th of `nSub` contiguous equal-width slices of the vector.
    * Dimension must divide evenly — a ragged last subspace would make
    * the codebook layout ambiguous. floor(dim/nSub) would silently
    * DROP the trailing dim % nSub coordinates (both encode and query
    * slice with the same width, so no dot-length mismatch ever fires
    * — only recall degrades), so the divisibility is enforced
    * explicitly per row; raise_error lives inside the _sd projection
    * the slices consume, where column pruning cannot drop it.
    */
  private def subVectors(n: DataFrame, nSub: Int): DataFrame =
    n.select(col("vec_id"), col("e"),
      when(size(col("e")) % nSub === 0,
        (size(col("e")) / nSub).cast("int"))
        .otherwise(raise_error(concat(
          lit(s"PQ nSub=$nSub does not divide vector dimension "),
          size(col("e")).cast("string")))).as("_sd"))
      .select(col("vec_id"), col("e"), col("_sd"),
        explode(sequence(lit(0), lit(nSub - 1))).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("e"), col("sub") * col("_sd") + 1, col("_sd")).as("sv"))

  /** Nearest-codeword assignment per (vector, subspace), L2 objective
    * with the deterministic (rounded-distance, code) tiebreak:
    * ‖s−c‖² = s·s − 2·s·c + c·c over the broadcast codebook — the PQ
    * sibling of [[assignRanked]]'s cosine cell assignment.
    */
  private def assignPqCodes(svs: DataFrame, codebook: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("code"))
    svs.join(broadcast(codebook), Seq("sub"))
      // round like fitCentroids' means: an unrounded last-ulp wobble
      // in the distance would flip near-boundary code assignments
      .withColumn("d2", round(dot(col("sv"), col("sv"))
        - lit(2.0) * dot(col("sv"), col("ce")) + col("cn2"), 6))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("vec_id"), col("sub"), col("sv"), col("code"))
  }

  /** Train a product-quantization codebook: `codesPerSub` centroids
    * per each of `nSub` subspaces, plain (L2) Lloyd from the
    * deterministic seed (the codesPerSub smallest vec_ids'
    * subvectors). Returns (sub, code, ce, cn2) with EVERY (sub, code)
    * slot always present — a code word that loses all members keeps
    * its previous centroid rather than vanishing, because the ADC
    * lookup table is laid out positionally as sub·k + code and a
    * missing slot would shift every entry after it.
    *
    * Like [[fitCentroids]], fit this on a hash-sampled slice at scale:
    * the codebook is a model (nSub·codesPerSub small arrays,
    * kilobytes), broadcast to encode the full corpus.
    */
  def fitPqCodebook(embeddings: DataFrame, nSub: Int, codesPerSub: Int,
      iters: Int): DataFrame = {
    require(nSub >= 1 && codesPerSub >= 1 && codesPerSub <= 256,
      "need 1..256 codes per subspace (codes pack to one byte)")
    val n = withNorm(embeddings)
    // generation scopes (the fitCentroids discipline, r16 ADVICE):
    // the subvector slices survive the whole loop and are freed when
    // the fit returns; superseded codebook generations free per round
    val svsCkpt = new GenCheckpointer(embeddings.sparkSession,
      reliable = false)
    val cbCkpt = new GenCheckpointer(embeddings.sparkSession,
      reliable = false)
    // materialize the subvector slices ONCE: every Lloyd round
    // re-deriving them would re-scan the source and re-run the
    // cast+norm+explode+slice chain iters times (the fitCentroids
    // discipline) — the checkpointed (vec_id, sub, sv) rows are what
    // every round's assignment actually consumes
    val svs = svsCkpt.cut(subVectors(n, nSub))
    val seedIds = n.orderBy(col("vec_id")).limit(codesPerSub)
      .select(col("vec_id"))
    val codeW = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var cb = cbCkpt.cut(svs.join(seedIds, Seq("vec_id"))
      .withColumn("code", row_number().over(codeW) - 1)
      .select(col("sub"), col("code"), col("sv").as("ce"))
      .withColumn("cn2", dot(col("ce"), col("ce"))))
    for (_ <- 0 until iters) {
      val mean = assignPqCodes(svs, cb)
        .select(col("sub"), col("code"), posexplode(col("sv")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("me"))
      cb = cbCkpt.cut(cb.select(col("sub"), col("code"), col("ce").as("_old"))
        .join(mean, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("me"), col("_old")).as("ce"))
        .withColumn("cn2", dot(col("ce"), col("ce"))))
    }
    // the final codebook generation is independently materialized and
    // returned to the caller — free only the subvector slices
    svsCkpt.close()
    cb
  }

  /** Encode vectors against a fitted codebook: (vec_id, codes, rnrm)
    * with `codes` the packed one-byte-per-subspace word
    * ([[graft.functions.PackCodes]]) and `rnrm` the norm of the
    * RECONSTRUCTED vector (√Σ_sub ‖c_sub‖² — exact at encode time, so
    * ADC cosine needs no index-side float data at all). This row is
    * the whole PQ index payload: nSub bytes + one double per vector.
    */
  def pqEncode(embeddings: DataFrame, codebook: DataFrame,
      nSub: Int): DataFrame = {
    import graft.functions.VectorFunctions.packCodes
    val assigned = assignPqCodes(subVectors(withNorm(embeddings), nSub),
      codebook)
      .join(broadcast(codebook.select(col("sub"), col("code"),
        col("cn2"))), Seq("sub", "code"))
    assigned.groupBy(col("vec_id"))
      .agg(
        packCodes(transform(
          array_sort(collect_list(struct(col("sub"), col("code")))),
          x => x.getField("code").cast("long"))).as("codes"),
        // sorted fold, not sum(): double addition is accumulation-
        // order-dependent and partial-aggregate merge order varies
        // run to run — the sorted fold pins rnrm's bits, which is
        // what lets the ns7d/ns7e oracles restate ADC exactly
        // (list_reduce over list_sort on the DuckDB side). nSub
        // elements per vector at encode time — off the hot path.
        sqrt(aggregate(array_sort(collect_list(col("cn2"))),
          lit(0.0), (a, b) => a + b)).as("rnrm"))
      // all-zero codewords reconstruct to the zero vector — no
      // direction, same guard (and rationale) as withNorm
      .filter(finitePositiveNorm(col("rnrm")))
  }

  /** Per-query ADC lookup tables: (vec_id, lut) with lut[sub·k + code]
    * = dot(query subvector, codebook centroid) — nSub·k doubles per
    * QUERY (not per candidate), computed in one broadcast pass; every
    * candidate is then scored by nSub array reads
    * ([[graft.functions.AdcLookup]]). Public because a serving caller
    * with its own query batch builds LUTs through this exact layout —
    * and the MlSpec ADC-equals-reconstructed-dot proof pins it.
    * Expects the (vec_id, embedding) shape of the embeddings table.
    */
  def pqLut(embeddings: DataFrame, codebook: DataFrame, nSub: Int,
      codesPerSub: Int): DataFrame =
    pqLutNormed(withNorm(embeddings), codebook, nSub, codesPerSub)

  private def pqLutNormed(n: DataFrame, codebook: DataFrame, nSub: Int,
      codesPerSub: Int): DataFrame =
    subVectors(n, nSub).join(broadcast(codebook), Seq("sub"))
      .withColumn("_idx", col("sub") * codesPerSub + col("code"))
      .withColumn("_v", dot(col("sv"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("_idx"), col("_v")))),
        x => x.getField("_v")).as("lut"))

  /** IVF-PQ top-k — the industry-standard quantized serving layout:
    * IVF bounds WHICH candidates are scored (probed cells only), PQ
    * bounds the BYTES each scoring touches (nSub code bytes + one
    * norm, vs SQ8's dim bytes and the raw vector's 8·dim). Candidates
    * are ranked by the ADC cosine adc/(‖q‖·rnrm), the top `refine`
    * per query re-scored with full-precision vectors (late
    * materialization, ns7c's shape), exact top-k of those. Approximate
    * on two axes (cell recall × quantization recall) — gated like
    * every ANN sibling: rows + in-result recall vs brute.
    */
  def ivfPqTopK(embeddings: DataFrame, cents: DataFrame,
      codebook: DataFrame, nSub: Int, codesPerSub: Int, k: Int,
      refine: Int, probes: Int): DataFrame = {
    require(refine >= k, "refine depth must be >= k")
    require(probes >= 1, "probes must be >= 1")
    import graft.functions.VectorFunctions.adc
    val n = withNorm(embeddings)
    // query side and crk=1 index slice both consume the ranked
    // assignment — materialize the N·probes rows once (the
    // ivfTopKMultiProbe discipline)
    val ranked = Materialize.cut(assignRanked(n, cents, probes))
    val index = ranked.filter(col("crk") === 1)
      .select(col("vec_id").as("j"), col("cell"))
      .join(pqEncode(embeddings, codebook, nSub)
        .select(col("vec_id").as("j"), col("codes"), col("rnrm")),
        Seq("j"))
    val queries = ranked
      .select(col("vec_id").as("i"), col("nrm").as("na"), col("cell"))
      .join(pqLutNormed(n, codebook, nSub, codesPerSub)
        .select(col("vec_id").as("i"), col("lut")), Seq("i"))
    val wA = Window.partitionBy(col("i")).orderBy(col("acos").desc, col("j"))
    val cand = queries.join(index, Seq("cell"))
      .filter(col("i") =!= col("j"))
      .withColumn("acos", round(
        adc(col("lut"), col("codes"), lit(codesPerSub))
          / (col("na") * col("rnrm")), 6))
      .withColumn("_ark", row_number().over(wA))
      .filter(col("_ark") <= refine)
      .select(col("i"), col("j"))
    val wE = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    cand
      .join(n.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(n.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** Fixed-seed random projection planes — shared by [[randomProject]]
    * and its oracle restatement so the two are literal-identical (the
    * java.util.Random LCG is specified, so the planes are stable
    * across JVMs/runs). Same generator family as [[lshBanded]].
    */
  def projectionPlanes(outDim: Int, dim: Int,
      seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(outDim, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Johnson–Lindenstrauss random projection: embed `dim`-dimensional
    * vectors into `outDim` coordinates, each the dot product against a
    * fixed-seed random plane — the standard cheap dimensionality
    * reduction before pairwise-heavy downstream work (JL: pairwise
    * distances concentrate around a constant rescale for outDim =
    * O(log N / ε²)). Map-only: outDim codegen dot products per row
    * against broadcast literal planes, no shuffle, no fit — the
    * projection is a pure function, so unlike PQ/IVF there is no model
    * to store or drift. Coordinates round to 6dp, making the operator
    * hash-gateable against a literal-plane oracle restatement (the one
    * ANN-adjacent entry with an exact cross-engine gate).
    */
  def randomProject(embeddings: DataFrame, outDim: Int, dim: Int,
      seed: Long = 42L): DataFrame = {
    graft.functions.GraftExtensions.register(embeddings.sparkSession)
    val planes = projectionPlanes(outDim, dim, seed)
    val e = col("embedding").cast("array<double>")
    embeddings.select(col("vec_id"),
      array(planes.map(p => round(dot(e, lit(p)), 6)): _*).as("proj"))
  }

  private val PqCodebookDir = "_graft_pq_codebook"

  /** Persist the IVF-PQ index: the [[writeIvfIndex]] layout with the
    * PQ payload instead of raw vectors — each `cell=` directory holds
    * (vec_id, codes, rnrm), nSub bytes + one double per vector, the
    * ~64× (vs raw) storage/scan shrink that makes 100 TB of
    * embeddings servable. The centroid table AND the codebook persist
    * under underscore-prefixed sibling dirs (invisible to the parquet
    * scan): assignment and encoding are pure functions of both, so a
    * query can never silently use a drifted fit.
    */
  def writeIvfPqIndex(embeddings: DataFrame, cents: DataFrame,
      codebook: DataFrame, nSub: Int, path: String): Unit = {
    clearSupersededSibling(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(
        embeddings.sparkSession.sparkContext.hadoopConfiguration),
      path, "writeIvfPqIndex")
    // unique vec_ids are an enforced invariant, not an assumption
    // (the writeBinaryIndex discipline): the delete mask is id-keyed,
    // and the routed serve's per-cell id-prefix cap
    // ([[pqTopKServedAuto]] via [[graft.ml.Corpus.cappedIdPrefix]])
    // tie-breaks nondeterministically on duplicate ids. One aggregate
    // at build time, the pass that is already corpus-priced.
    val dup = withNorm(embeddings)
      .agg((count(lit(1)) - count_distinct(col("vec_id"))).as("d"))
      .head().getLong(0)
    require(dup == 0L,
      s"writeIvfPqIndex: input holds $dup duplicate vec_id rows — " +
        "the served index requires unique ids (dedup upstream)")
    assignCells(embeddings, cents).select(col("vec_id"), col("cell"))
      .join(pqEncode(embeddings, codebook, nSub), Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("rnrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    cents.write.mode("overwrite").parquet(s"$path/$CentroidsDir")
    codebook.write.mode("overwrite").parquet(s"$path/$PqCodebookDir")
  }

  /** Incrementally maintain a persisted IVF-PQ index: encode a NEW
    * batch against the index's own stored centroids AND codebook and
    * append into the `cell=` directories — [[appendIvfIndex]]'s exact
    * contract carried to the quantized layout. Assignment and encoding
    * are pure functions of the two stored models, so the appended
    * index serves identically to a from-scratch build of the union
    * corpus (spec-pinned); what an append cannot do is adapt the
    * codebook to a drifted embedding distribution — that is a refit,
    * i.e. a new [[writeIvfPqIndex]], by design. Ids stay unique
    * across appends by ENFORCEMENT ([[requireFreshIds]] — in-batch
    * duplicates and base overlap refuse loudly), because the routed
    * serve's id-prefix cap tie-breaks duplicate ids
    * nondeterministically; the streamed path is exempt by its
    * fingerprinted replay absorption.
    */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      newEmbeddings: DataFrame, path: String): Unit = {
    ServedStore.requireAppendable(spark, path, "appendIvfPqIndex")
    requireFreshIds(spark, newEmbeddings, path, "appendIvfPqIndex")
    val cents = spark.read.parquet(s"$path/$CentroidsDir")
    val codebook = spark.read.parquet(s"$path/$PqCodebookDir")
    val nSub = codebook
      .agg((max(col("sub")) + 1).cast("int").as("n")).head().getInt(0)
    assignCells(newEmbeddings, cents).select(col("vec_id"), col("cell"))
      .join(pqEncode(newEmbeddings, codebook, nSub), Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("rnrm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Query a persisted IVF-PQ index: rank each query's `probes`
    * nearest cells against the STORED centroids, partition-prune the
    * code read to those `cell=` directories, ADC-score the codes
    * against per-query lookup tables built from the STORED codebook,
    * keep `refine` per query, and re-score those exactly against
    * `rescoreFrom` (the raw-vector table — the PQ index itself never
    * stores a float vector; in a serving deployment this is the
    * source-of-truth embedding store, touched only for ~refine rows
    * per query instead of scanned). nSub/codesPerSub are read off the
    * codebook itself (a one-row bounded aggregate), so a caller
    * cannot mis-declare the layout.
    */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, rescoreFrom: DataFrame, k: Int,
      refine: Int, probes: Int): DataFrame =
    queryIvfPqIndexPaths(spark, Seq(path), queries, rescoreFrom, k,
      refine, probes)

  /** [[queryIvfPqIndex]] over the UNION of several PQ-code tables —
    * the [[queryIvfIndexPaths]] shape for the quantized layout, used
    * once [[graft.streaming.VectorIngest]] accumulates streamed PQ
    * appends beside the base build. The FIRST path is the model
    * authority: its centroids/codebook define assignment, encoding,
    * and the ADC layout, so sibling tables must have been encoded
    * against it (which the ingest path guarantees by reading the
    * models off the base index).
    */
  def queryIvfPqIndexPaths(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], queries: DataFrame, rescoreFrom: DataFrame,
      k: Int, refine: Int, probes: Int): DataFrame =
    queryIvfPqCore(spark, paths, queries, rescoreFrom, k, refine,
      probes, cellCandidateCap = 0L)

  /** The PQ serving core — [[queryIvfPqIndexPaths]] plus the routed
    * form's per-cell candidate cap (0 = uncapped; the exact serve).
    * A positive cap keeps each probed cell's `cap` smallest-vec_id
    * code rows on the CANDIDATE side ([[Corpus.cappedIdPrefix]] — the
    * ns8i monotone-bucket decomposition, so the dominant cell never
    * sorts through one task), queries keep all their probes.
    */
  private def queryIvfPqCore(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], queries: DataFrame, rescoreFrom: DataFrame,
      k: Int, refine: Int, probes: Int, cellCandidateCap: Long,
      preNq: Option[DataFrame] = None,
      preRanked: Option[DataFrame] = None): DataFrame = {
    require(refine >= k, "refine depth must be >= k")
    require(probes >= 1, "probes must be >= 1")
    require(paths.nonEmpty, "need at least one index table")
    import graft.functions.VectorFunctions.adc
    val cents = spark.read.parquet(s"${paths.head}/$CentroidsDir")
    val codebook = spark.read.parquet(s"${paths.head}/$PqCodebookDir")
    val dims = codebook
      .agg((max(col("sub")) + 1).cast("int").as("nsub"),
        (max(col("code")) + 1).cast("int").as("k")).head()
    val (nSub, codesPerSub) = (dims.getInt(0), dims.getInt(1))
    // normalize and assign ONCE (the queryIvfCore discipline): nq
    // feeds the cell assignment, the LUT derivation, and the exact
    // rescore join; qr is then EXECUTED by the probed-cell collect and
    // consumed again by the ADC join. Both are query-batch-sized.
    // preNq/preRanked let the routed caller hand in the frames its
    // volume probe already materialized (one normalize + assignment
    // pass for probe AND serve — r17, the ns7l audit).
    val nq = preNq.getOrElse(Materialize.cut(withNorm(queries)))
    val qr = Materialize.cut(
      preRanked.getOrElse(assignRanked(nq, cents, probes))
        .select(col("vec_id").as("i"), col("nrm").as("na"), col("cell"))
        .join(pqLutNormed(nq, codebook, nSub, codesPerSub)
          .select(col("vec_id").as("i"), col("lut")), Seq("i")))
    val cells = qr.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    val pruned = ServedStore.Ivf.mask(spark, paths, paths.map { p =>
      spark.read.parquet(p)
        .filter(col("cell").isin(cells.map(x => x: Any): _*))
        .select(col("vec_id").as("j"), col("codes"), col("rnrm"),
          col("cell").cast("long").as("cell"))
    }.reduce(_.unionByName(_)), "j")
    val index =
      if (cellCandidateCap <= 0L) pruned
      // cut the capped set (≤ cap·|probed cells| rows):
      // the ADC join then consumes a materialized table with exact
      // stats instead of re-executing the rank/offset subplan, and
      // the downstream refine/rescore reuse it
      else Materialize.cut(Corpus.cappedIdPrefix(pruned, "j", Seq("cell"),
        cellCandidateCap))
    val wA = Window.partitionBy(col("i")).orderBy(col("acos").desc, col("j"))
    val cand = qr.join(index, Seq("cell")).filter(col("i") =!= col("j"))
      .withColumn("acos", round(
        adc(col("lut"), col("codes"), lit(codesPerSub))
          / (col("na") * col("rnrm")), 6))
      .withColumn("_ark", row_number().over(wA))
      .filter(col("_ark") <= refine)
      .select(col("i"), col("j"))
    val nr = withNorm(rescoreFrom)
    val wE = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    cand
      .join(nq.select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na")), Seq("i"))
      .join(nr.select(col("vec_id").as("j"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** The PQ-serve ROUTER — the measured-volume discipline
    * ([[ivfTopKAuto]], whose regime this is: corpus-as-queries
    * self-search over the served IVF-PQ index pays Σ probe-hits(cell)
    * · |cell| ADC scores, which one dominant cell turns quadratic —
    * the r13 verdict's item 6). ONE bounded aggregate over the
    * ≤ nCells (probe-hit, stored-row) cell counts measures the ADC
    * candidate volume, integer-exactly scaled so the budget reads
    * per-query: `cand · probes > budget · probe_rows` ⇔ cand >
    * budget · nq. Under budget the EXACT serve runs UNCHANGED
    * (bit-identical to [[queryIvfPqIndex]], ns7e's oracle); past it
    * each probed cell's CANDIDATE side is capped to its
    * `cellCandidateCap` smallest-vec_id code rows
    * ([[Corpus.cappedIdPrefix]] — per-(cell, bucket) ranks, no
    * single-task hot-cell sort), queries keep every probe, ADC →
    * refine → exact rescore proceed on the capped set. The stated
    * recall contract is [[ivfTopKAuto]]'s: within a hot cell only the
    * cap-prefix rows are findable — honest budget degradation; a cell
    * that hot needed [[semDedupAuto]] upstream. Requires unique
    * vec_ids per cell (the [[writeIvfPqIndex]] layout; duplicate ids
    * would tie-break the prefix nondeterministically — the
    * cappedIdPrefix precondition). The routing scalar and BOTH
    * branches restate in the oracle (ns7l, the ns8i/ns7j/ns7k house
    * pattern).
    */
  def pqTopKServedAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, rescoreFrom: DataFrame, k: Int,
      refine: Int, probes: Int, cellCandidateCap: Long,
      budgetCandidatesPerQuery: Long = 256L): DataFrame = {
    require(cellCandidateCap > 0L,
      "the routed form needs a positive cellCandidateCap to engage")
    require(budgetCandidatesPerQuery > 0L,
      "budgetCandidatesPerQuery must be positive")
    // serves the BASE root only — refuse while the streamed-appends
    // sibling holds un-folded data, or every streamed vector would be
    // silently invisible to the routed serve (the binaryTopKServedAuto
    // refusal, the session review's top finding on this very router)
    require(!BatchCommit.anyHoldsData(
        new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)),
      s"pqTopKServedAuto: streamed-appends sibling " +
        s"$path$StreamSiblingSuffix holds un-folded data — serving " +
        "the base alone would omit streamed vectors; fold first (or " +
        "serve through VectorIngest.queryServedPq)")
    val cents = spark.read.parquet(s"$path/$CentroidsDir")
    // the measurement: probe hits per cell × ALIVE stored rows per
    // cell (tombstone-masked, exactly what the serve scores —
    // counting dead rows could trip the budget a delete already paid
    // down), folded into one decimal-widened scalar (the r12
    // silent-wrap rule). The normalized queries and the ranked
    // assignment are checkpointed ONCE and handed to the serving core
    // — the probe was re-deriving the same N×|cents| cosine pass the
    // serve then re-ran (r17, the ns7l audit)
    val nq = Materialize.cut(withNorm(queries))
    val ranked = Materialize.cut(assignRanked(nq, cents, probes))
    val qc = ranked.groupBy(col("cell")).agg(count(lit(1)).as("qn"))
    val ic = ServedStore.Ivf.mask(spark, Seq(path),
        spark.read.parquet(path).select(col("vec_id"), col("cell")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("cn"))
    val st = qc.join(ic, Seq("cell"), "left")
      .agg(
        coalesce(sum(col("qn").cast("decimal(38,0)") *
          coalesce(col("cn"), lit(0L))),
          lit(0).cast("decimal(38,0)")).as("cand"),
        coalesce(sum(col("qn")), lit(0L)).as("probe_rows"))
      .head()
    val hot = BigDecimal(st.getDecimal(0)) * probes >
      BigDecimal(budgetCandidatesPerQuery) * st.getLong(1)
    queryIvfPqCore(spark, Seq(path), queries, rescoreFrom, k, refine,
      probes, if (hot) cellCandidateCap else 0L,
      preNq = Some(nq), preRanked = Some(ranked))
  }

  /** Embedding-DISTRIBUTION drift between two corpus snapshots — the
    * embedding-space sibling of the scalar PSI drift (q85): project
    * both sides onto `outDim` fixed JL directions
    * ([[randomProject]] — literal planes, so the projection is exact
    * cross-engine), bucket each projection by the REFERENCE side's
    * deciles, and emit the per-(direction, bucket) PSI terms. A new
    * crawl whose embedding cloud shifted (topic mix, embed-model
    * version bump, scraper regression) shows up as large PSI terms on
    * some direction long before any scalar metadata column moves;
    * per-direction granularity says WHICH directions moved, and the
    * caller sums terms per direction for the headline number
    * (sorted-fold if 3+ — the rrfFuse rule).
    *
    * Scale: the projection is map-only; the decile edges use the
    * exact percentile (oracle-restatable — the q85 choice) whose
    * buffer is per-direction corpus-sized, so a 100 TB run swaps in
    * approx_percentile edges (the q67b sibling pattern) with the
    * identical downstream bin logic; the three consumers of the
    * projected frame re-run the map-only scan — cache it upstream
    * for a real run (the GD note).
    */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, outDim: Int,
      dim: Int): DataFrame = {
    def proj(df: DataFrame) = randomProject(df, outDim, dim)
      .select(posexplode(col("proj")))
      .select(col("pos").as("proj_dim"), col("col").as("x"))
    val pr = proj(ref)
    val pc = proj(cur)
    val qs = lit((1 to 9).map(_ / 10.0).toArray)
    val edges = pr.groupBy(col("proj_dim"))
      .agg(percentile(col("x"), qs).as("qs"))
    def binCounts(df: DataFrame, cnt: String) =
      df.join(broadcast(edges), Seq("proj_dim"))
        .select(col("proj_dim"),
          size(filter(col("qs"), e => e < col("x"))).as("bin"))
        .groupBy(col("proj_dim"), col("bin"))
        .agg(count(lit(1)).as(cnt))
    val totals = pr.groupBy(col("proj_dim"))
      .agg(count(lit(1)).as("n_ref"))
      .join(pc.groupBy(col("proj_dim")).agg(count(lit(1)).as("n_cur")),
        Seq("proj_dim"))
    val eps = lit(1e-6)
    binCounts(pr, "ref_cnt")
      .join(binCounts(pc, "cur_cnt"), Seq("proj_dim", "bin"),
        "full_outer")
      .na.fill(0L, Seq("ref_cnt", "cur_cnt"))
      .join(broadcast(totals), Seq("proj_dim"))
      .select(col("proj_dim"), col("bin"), col("ref_cnt"), col("cur_cnt"),
        round(col("ref_cnt") / col("n_ref").cast("double"), 6)
          .as("p_ref"),
        round(col("cur_cnt") / col("n_cur").cast("double"), 6)
          .as("p_cur"),
        round((col("cur_cnt") / col("n_cur").cast("double") -
          col("ref_cnt") / col("n_ref").cast("double")) *
          log(greatest(col("cur_cnt") / col("n_cur").cast("double"), eps)
            / greatest(col("ref_cnt") / col("n_ref").cast("double"),
              eps)), 6).as("psi_term"))
      .orderBy(col("proj_dim"), col("bin"))
  }

  /** Semantic deduplication over embeddings (the SemDeDup shape):
    * assign every vector to its IVF cell, find cosine-≥-threshold
    * pairs ONLY within each cell, and greedily keep the earliest
    * member of every duplicate star — a vector is dropped iff some
    * SMALLER vec_id in its cell sits above the threshold, and its
    * `exemplar` is the earliest such neighbor (itself when kept). The
    * lexical dedup tier (shingles/MinHash/SimHash) cannot see
    * paraphrases; this is the embedding-space complement, and the
    * cluster prune is what makes it scale: candidate pairs are
    * Σ|cell|² ≪ N², the exact trade ns8's IVF search makes, with the
    * same boundary caveat (a cross-cell duplicate pair is missed —
    * recall vs the unclustered quadratic is the measured, not
    * asserted, quantity).
    *
    * Greedy-by-id is deterministic and single-pass (no iterative
    * connected components): within a duplicate chain a→b→c the kept
    * set is exactly the chain heads, matching the quadratic oracle
    * restatement clause "no earlier above-threshold neighbor".
    *
    * `cellOccupancyCap` (0 = exact) is the embedding-space twin of
    * the simhash band-occupancy cap ([[Dedup.simhashPairsCapped]]):
    * Σ|cell|² is only "≪ N²" while the assignment spreads, and real
    * corpora cluster hard — one dominant topic/template makes one
    * cell a constant fraction of N and the intra-cell scan
    * quadratic (the measured ns5 floor, in cosine space). Under the
    * cap, cells with more than `cellOccupancyCap` members form NO
    * pairs — every member comes out keep=true, exemplar=self — so
    * candidate volume is structurally ≤ cap · Σ|cell| = cap · N
    * under ANY embedding skew. The recall contract is explicit and
    * the same as ns5c's: duplicates inside a dropped hot cell are
    * missed; route hot corpora through a finer centroid fit (more
    * cells) or accept the stated loss. Deterministic (occupancy is a
    * count), so the capped output hash-gates exactly (ns44b).
    */
  def semDedup(embeddings: DataFrame, cents: DataFrame,
      threshold: Double, cellOccupancyCap: Long = 0L): DataFrame =
    // the assignment feeds three consumers in semDedupFromAssigned
    // (both sides of the intra-cell self-join + the final every-vector
    // projection); materialize it once so the N×|cents| cosine pass
    // runs once — the same single-assignment-pass discipline
    // semDedupAuto already applies before its volume measurement
    semDedupFromAssigned(Materialize.cut(assignCells(embeddings, cents)),
      threshold, cellOccupancyCap)

  /** The SemDeDup ROUTER — [[graft.ml.Dedup.simhashPairsAuto]]'s
    * measured-volume discipline in embedding space, making the
    * occupancy-capped tier the DEFAULT once the corpus clusters hard
    * without the caller knowing the assignment: measure the
    * intra-cell candidate volume with ONE bounded aggregate
    * (Σ c·(c−1) over the ≤ nCells assignment counts — deterministic
    * integers), and route to the exact intra-cell scan while
    * candidates stay within `budgetPairsPerVec`·N, or to the
    * occupancy cap ([[semDedup]] with `cellOccupancyCap`, stated
    * drop-hot-cell recall contract) once one dominant topic/template
    * makes Σ|cell|² quadratic (the measured ns44 skew floor, exp
    * 1.01 on the clustered-embedding corpus vs 0.21 capped). The
    * condition is a pure function of the data, so the WHOLE router
    * hash-gates: the oracle restates the volume test and both
    * branches, selected by the same scalar (ns44c). The assignment
    * is checkpointed once — measurement, pairing, and the final
    * every-vector projection share a single centroid-assignment
    * pass.
    */
  def semDedupAuto(embeddings: DataFrame, cents: DataFrame,
      threshold: Double, cellOccupancyCap: Long,
      budgetPairsPerVec: Long = 64L): DataFrame = {
    require(cellOccupancyCap > 0L,
      "the routed form needs a positive cellOccupancyCap to engage")
    require(budgetPairsPerVec > 0L, "budgetPairsPerVec must be positive")
    val assigned = Materialize.cut(assignCells(embeddings, cents))
    // bounded driver action: ONE row — the intra-cell candidate
    // volume (as Σ c·(c−1), decimal-widened like the ns5d candidate
    // count) and the assigned vector count
    val st = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(col("c").cast("decimal(38,0)") * (col("c") - 1)),
          lit(0).cast("decimal(38,0)"))
          .as("cand2"),
        coalesce(sum(col("c")), lit(0L)).as("n"))
      .head()
    // candidates = cand2/2; hot ⇔ candidates > budget·N
    val hot = BigDecimal(st.getDecimal(0)) >
      BigDecimal(2L) * budgetPairsPerVec * st.getLong(1)
    semDedupFromAssigned(assigned, threshold,
      if (hot) cellOccupancyCap else 0L)
  }

  private def semDedupFromAssigned(assigned: DataFrame,
      threshold: Double, cellOccupancyCap: Long): DataFrame = {
    // pairing universe: with a cap, only cells at or under it — one
    // count aggregate (≤ nCells rows, broadcast semi-join), applied
    // BEFORE pair formation so a hot cell's members never enter the
    // self-join at all (the ns46g plan-shape lesson: the cap must
    // prune the join INPUTS, not filter its output)
    val pairable =
      if (cellOccupancyCap > 0L) {
        val kept = assigned.groupBy(col("cell"))
          .agg(count(lit(1)).as("_occ"))
          .filter(col("_occ") <= cellOccupancyCap)
          .select(col("cell"))
        assigned.join(broadcast(kept), Seq("cell"), "left_semi")
      } else assigned
    val a = pairable.select(col("cell"), col("vec_id").as("i"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = pairable.select(col("cell"), col("vec_id").as("j"),
      col("e").as("eb"), col("nrm").as("nb"))
    val earliest = a.join(b, Seq("cell")).filter(col("i") < col("j"))
      .withColumn("cos", pairCos)
      .filter(col("cos") >= threshold)
      .groupBy(col("j")).agg(min(col("i")).as("_ex"))
    assigned.select(col("vec_id"), col("cell"))
      .join(earliest.withColumnRenamed("j", "vec_id"), Seq("vec_id"),
        "left")
      .withColumn("keep", col("_ex").isNull)
      .withColumn("exemplar", coalesce(col("_ex"), col("vec_id")))
      .select(col("vec_id"), col("cell"), col("keep"), col("exemplar"))
  }

  /** [[queryIvfIndex]] over the UNION of several index tables — the
    * serving shape once [[graft.streaming.VectorIngest]] accumulates
    * streamed appends in a sibling table next to the base build: every
    * table is cell-partitioned, so the probe filter partition-prunes
    * each of them independently and the union is a union of pruned
    * reads, never of full tables.
    */
  def queryIvfIndexPaths(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], queries: DataFrame, cents: DataFrame, k: Int,
      probes: Int): DataFrame =
    queryIvfCore(spark, paths, queries, cents, k, probes, 0L)

  /** The shared raw-IVF serve body: [[queryIvfIndexPaths]] with an
    * optional per-cell candidate cap (0 = exact). The cap prunes the
    * JOIN INPUT — [[Corpus.cappedIdPrefix]]'s monotone-bucket
    * smallest-vec_id prefix per probed cell, the exact plan shape the
    * PQ router's capped branch uses ([[queryIvfPqCore]]) — so one hot
    * cell contributes ≤ cap rows to every probe instead of its whole
    * population.
    */
  private def queryIvfCore(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], queries: DataFrame, cents: DataFrame, k: Int,
      probes: Int, cellCandidateCap: Long,
      preAssigned: Option[DataFrame] = None): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    require(paths.nonEmpty, "need at least one index table")
    // assignment ONCE: the probed-cell collect below EXECUTES this
    // frame (a ranked window over |queries|·probes rows) and the serve
    // join would otherwise re-run it from the query source; the
    // materialized rows are |queries|·probes — query-batch-sized.
    // `preAssigned` lets the routed caller hand in the checkpointed
    // assignment its volume probe already executed, so the router
    // pays ONE N×|cents| cosine pass instead of two (r17: the probe
    // and the serve were re-deriving the same front).
    val qr = preAssigned.getOrElse(Materialize.cut(
      assignRanked(withNorm(queries), cents, probes)
        .select(col("vec_id").as("i"), col("e").as("ea"),
          col("nrm").as("na"), col("cell"))))
    val cells = qr.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    val pruned = ServedStore.Ivf.mask(spark, paths, paths.map { p =>
      spark.read.parquet(p)
        .filter(col("cell").isin(cells.map(x => x: Any): _*))
        // directory-name type inference reads `cell=5` back as int —
        // re-widen so the join key matches the assignment's long
        .select(col("vec_id").as("j"), col("e").as("eb"),
          col("nrm").as("nb"), col("cell").cast("long").as("cell"))
    }.reduce(_.unionByName(_)), "j")
    val index =
      if (cellCandidateCap <= 0L) pruned
      // cut the capped set (≤ cap·|probed cells| rows):
      // the serve join then consumes a materialized table with exact
      // stats instead of re-executing the rank subplan per consumer
      // (the queryIvfPqCore discipline)
      else Materialize.cut(Corpus.cappedIdPrefix(pruned, "j", Seq("cell"),
        cellCandidateCap))
    val w = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    qr.join(index, Seq("cell")).filter(col("i") =!= col("j"))
      .withColumn("cos", pairCos)
      .select(col("i"), col("j"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("i"), col("rk"), col("j"), col("cos"))
  }

  /** The raw-IVF-serve ROUTER (r15 verdict item 1) — the LAST serving
    * tier without one: [[queryIvfIndex]] scans every alive row of the
    * probed cells, and its own bare bench sibling measured that serve
    * superlinear (exp 1.02, BASELINE.md round-15 scale rows) once a
    * 70%-hot clustered corpus concentrates the probes, while the PQ
    * ([[pqTopKServedAuto]]), binary ([[binaryTopKServedAuto]]) and
    * BM25 ([[graft.ml.Retrieval.queryBm25IndexAuto]]) serves all
    * route. Mirrors pqTopKServedAuto exactly: ONE bounded aggregate
    * over the ≤ nCells (probe-hit, alive-stored-row) cell counts
    * measures the candidate volume, integer-exactly scaled so the
    * budget reads per-query (`cand · probes > budget · probe_rows` ⇔
    * cand > budget · nq); under budget the EXACT serve runs UNCHANGED
    * (bit-identical to [[queryIvfIndex]], ns8d's oracle); past it
    * each probed cell's candidate side is capped to its
    * `cellCandidateCap` smallest-vec_id rows ([[Corpus
    * .cappedIdPrefix]] — per-cell ranks, no single-task hot-cell
    * sort). The recall contract is [[ivfTopKAuto]]'s: within a hot
    * cell only the cap-prefix rows are findable — honest budget
    * degradation; a cell that hot needed [[semDedupAuto]] upstream.
    * Serves the BASE root only — refuses while the streamed-appends
    * sibling holds un-folded data (fold first, or serve through
    * [[graft.streaming.VectorIngest.queryServed]]). The routing
    * scalar and BOTH branches restate in the oracle (ns8j, the
    * ns7l/ns8i/ns7j house pattern).
    */
  def queryIvfIndexAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, cents: DataFrame, k: Int,
      probes: Int, cellCandidateCap: Long,
      budgetCandidatesPerQuery: Long = 256L): DataFrame = {
    require(cellCandidateCap > 0L,
      "the routed form needs a positive cellCandidateCap to engage")
    require(budgetCandidatesPerQuery > 0L,
      "budgetCandidatesPerQuery must be positive")
    require(!BatchCommit.anyHoldsData(
        new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(path + StreamSiblingSuffix)),
      s"queryIvfIndexAuto: streamed-appends sibling " +
        s"$path$StreamSiblingSuffix holds un-folded data — serving " +
        "the base alone would omit streamed vectors; fold first (or " +
        "serve through VectorIngest.queryServed)")
    // the measurement: probe hits per cell × ALIVE stored rows per
    // cell (tombstone-masked — exactly what the serve scores), folded
    // into one decimal-widened scalar (the r12 silent-wrap rule).
    // The ranked assignment is checkpointed ONCE and handed to the
    // serving core — the probe was re-deriving the same N×|cents|
    // cosine pass the serve then re-ran (r17, the ns46i/ns7l audit)
    val qr = Materialize.cut(assignRanked(withNorm(queries), cents, probes)
      .select(col("vec_id").as("i"), col("e").as("ea"),
        col("nrm").as("na"), col("cell")))
    val qc = qr.groupBy(col("cell")).agg(count(lit(1)).as("qn"))
    val ic = ServedStore.Ivf.mask(spark, Seq(path),
        spark.read.parquet(path).select(col("vec_id"), col("cell")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("cn"))
    val st = qc.join(ic, Seq("cell"), "left")
      .agg(
        coalesce(sum(col("qn").cast("decimal(38,0)") *
          coalesce(col("cn"), lit(0L))),
          lit(0).cast("decimal(38,0)")).as("cand"),
        coalesce(sum(col("qn")), lit(0L)).as("probe_rows"))
      .head()
    val hot = BigDecimal(st.getDecimal(0)) * probes >
      BigDecimal(budgetCandidatesPerQuery) * st.getLong(1)
    queryIvfCore(spark, Seq(path), queries, cents, k, probes,
      if (hot) cellCandidateCap else 0L, preAssigned = Some(qr))
  }

  /** Top principal component of the (mean-centered) embedding cloud by
    * distributed power iteration — the PCA step an embedding pipeline
    * runs before whitening, compression, or projection-based dedup.
    * Output is ONE row: the unit component as p00..p{dim-1} (6 dp,
    * sign-fixed so the largest-magnitude coordinate is positive),
    * `eigenvalue` (the Rayleigh quotient v·Av = Var(c·v)), `n_vecs`,
    * and `rel_residual` = ‖Av − λv‖/λ — in-result convergence
    * evidence, the ANN entries' recall-column discipline.
    *
    * Iteration shape is the [[Classify.logisticRegression]] template:
    * each step is ONE aggregate pass with the current vector inlined
    * as a plan literal (v′_i = E[c_i·(c·v)], then a driver-side
    * normalize of the dim-sized row), so the plan never grows and only
    * dim doubles reach the driver per step. The covariance matrix is
    * NEVER materialized — at dim = 4096 that's the difference between
    * shipping 32 KB per step and 128 MB ever. The per-row work is two
    * codegen dots over a centered array built once per row
    * (whole-stage CSE dedups the shared subexpressions). The validated
    * frame is localCheckpointed once, so each step reads materialized
    * (vec_id-free) array rows instead of rescanning the source.
    * Degenerate (zero/NaN/Inf-norm) vectors are excluded: one NaN
    * coordinate would poison every mean.
    */
  def pcaTopComponent(embeddings: DataFrame, dim: Int, iters: Int = 10)
      : DataFrame = {
    require(dim >= 1 && iters >= 1, "need dim >= 1 and iters >= 1")
    val spark = embeddings.sparkSession
    // generation-scoped checkpoints: the raw validated frame is dead
    // once the centered cloud materializes, and everything the fit
    // returns is collected to the driver — so superseded generations
    // are reclaimed per cut and close() frees the last one (the
    // GenCheckpointer discipline, r16 ADVICE: eager checkpoints must
    // not accumulate executor-storage blocks across a serve session)
    val ck = new GenCheckpointer(spark, reliable = false)
    val e = ck.cut(withNorm(embeddings)
      .select(col("e"), size(col("e")).as("_sz"))
      // a wrong-dim vector would surface as NULL coordinates and
      // silently NaN the fit — fail with the observed size instead
      .select(col("e"),
        when(col("_sz") === dim, col("e"))
          .otherwise(raise_error(concat(
            lit(s"pcaTopComponent: expected dim $dim, found "),
            col("_sz").cast("string")))).as("_ck"))
      .select(col("_ck").as("e")))
    val idx = 0 until dim
    // every driver round-trip is a posexplode → groupBy(pos) pass: the
    // plan is dim-independent and literal-light, so whole-stage
    // codegen compiles a SMALL kernel once per step (a dim-wide
    // one-aggregate-per-coordinate formulation measured 4s/step at
    // sf0.1 — nearly all Janino compilation of the 64-aggregate
    // operator, recompiled every step because the inlined literals
    // change). The exploded stream is dim·N rows of ~20 bytes with
    // map-side partial averaging — dim·|partitions| partials shuffle.
    // the vector count rides every pass (count per pos group — exact:
    // the dim check above guarantees each pos appears once per
    // vector), so the fit needs no separate count() job
    var nVecs = 0L
    def byPos(df: DataFrame, value: Column): Array[Double] = {
      val rows = df.select(posexplode(col("c")), col("_p"))
        .groupBy(col("pos"))
        .agg(avg(value).as("m"), count(lit(1)).as("n"))
        .collect()
      // empty-set check FIRST: on an empty frame the dim mismatch
      // message ("expected N, got 0") would mask the real problem
      require(rows.nonEmpty, "cannot fit PCA on an empty embedding set")
      require(rows.length == dim,
        s"pcaTopComponent: expected $dim coordinates, got ${rows.length}")
      nVecs = rows.head.getLong(2)
      val out = new Array[Double](dim)
      rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
      out
    }
    val mu = byPos(e.select(col("e").as("c"), lit(1.0).as("_p")),
      col("col"))
    val centered = array(idx.map(i =>
      element_at(col("e"), i + 1) - lit(mu(i))): _*)
    // materialize the CENTERED cloud once: every power step (and the
    // final A·v pass) consumes only `c`, so the dim-wide centering
    // projection — 64 element_at−literal expressions that Catalyst
    // re-analyzes and codegen re-emits per step — leaves the per-step
    // plan entirely; each step's plan is select(c, dot(c, lit(v)))
    // over materialized array rows. Float-identical: the centered
    // values are the same arithmetic the per-step projection computed,
    // evaluated once instead of iters+1 times (ns49 oracle pins it).
    // The cut also frees the superseded raw checkpoint `e` (the
    // GenCheckpointer reclaim discipline, r16 ADVICE).
    val cent = ck.cut(e.select(centered.as("c")))
    def step(v: Array[Double]): Array[Double] =
      byPos(cent.select(col("c"), dot(col("c"), lit(v)).as("_p")),
        col("col") * col("_p"))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val w = step(v)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      // a zero image (data spread orthogonal collapse / all-equal
      // cloud) cannot normalize — keep the previous direction, the
      // residual column reports the (non-)convergence honestly
      if (nrm > 0) v = w.map(_ / nrm)
    }
    val av = step(v) // A·v with the FINAL direction, for λ and residual
    // every pass is collected — the result row below is pure driver
    // literals, so the last generation's blocks can be freed NOW
    ck.close()
    val lambda = idx.map(i => av(i) * v(i)).sum
    val resid = math.sqrt(idx.map(i =>
      math.pow(av(i) - lambda * v(i), 2)).sum)
    val relResid = if (lambda > 0) resid / lambda else Double.NaN
    // deterministic sign: the largest-|coordinate| (first such index
    // on ties) points positive
    val pivot = idx.maxBy(i => (math.abs(v(i)), -i))
    val sgn = if (v(pivot) < 0) -1.0 else 1.0
    // the mean rides along (m00..): a PCA model is (mu, v, λ) — the
    // component alone cannot project anything, and without mu in the
    // row the serving chain (ns49b) would have to re-derive it with
    // different float accumulation than the fit's
    spark.range(1).select(
      lit(nVecs).as("n_vecs") +:
        round(lit(lambda), 6).as("eigenvalue") +:
        round(lit(relResid), 6).as("rel_residual") +:
        (idx.map(i => round(lit(sgn * v(i)), 6).as(f"p$i%02d")) ++
          idx.map(i => round(lit(mu(i)), 6).as(f"m$i%02d"))): _*)
  }

  /** The serving half of [[pcaTopComponent]]: project every vector
    * onto the fitted component — score = x·v − mu·v with v, mu from
    * the fit's ROUNDED model row and the centering shift mu·v folded
    * into ONE driver-computed literal, so the per-row work is a
    * single codegen dot against a literal vector (map-only, no
    * shuffle — the compression/whitening pass a 100 TB embedding
    * pipeline runs after the fit). Computing x·v − c instead of
    * (x−mu)·v is deliberate: both engines then evaluate the SAME
    * sequential dot over the same literals, so the q99b fitted-
    * literal gate discipline applies (ns49b pins the sf0.01 model).
    */
  def pcaProject(embeddings: DataFrame, component: Seq[Double],
      mean: Seq[Double]): DataFrame = {
    require(component.nonEmpty && component.length == mean.length,
      "component and mean must agree on dimension")
    graft.functions.GraftExtensions.register(embeddings.sparkSession)
    val c = component.zip(mean).map { case (vi, mi) => vi * mi }.sum
    embeddings
      .select(col("vec_id"),
        round(dot(col("embedding").cast("array<double>"),
          lit(component.toArray)) - lit(c), 6).as("pc1"))
  }

  /** Per-key mean-pooled prototype embeddings (class centroids):
    * element-wise average of `embedding` over every row sharing
    * `keyCol` — the Rocchio/prototype step of nearest-centroid
    * classification, and the pooling step that turns chunk embeddings
    * into document embeddings. Output (key, n_vecs, centroid:
    * array&lt;double&gt;), one row per key.
    *
    * Shape: posexplode → (key, pos) hash aggregate → re-assemble in
    * pos order. The exploded stream is dim·N rows of 20-ish bytes with
    * map-side partial averaging, so the shuffle carries |keys|·dim
    * partial states — never vectors — and no row ever holds more than
    * one coordinate until the final |keys|-sized re-assembly. Ragged
    * inputs fail loudly (coordinate counts per key must agree), and so
    * do NULL/empty embeddings (which posexplode would otherwise
    * silently drop from both the means and n_vecs) — never a silent
    * truncated or partial average.
    */
  def centroidsByKey(vecs: DataFrame, keyCol: String): DataFrame = {
    val byPos = vecs
      // a NULL or empty embedding would posexplode to NO rows and
      // silently vanish from both the means and n_vecs — the same
      // loud-failure contract as the ragged check below
      .select(col(keyCol).as("key"),
        when(col("embedding").isNotNull && size(col("embedding")) > 0,
          col("embedding"))
          .otherwise(raise_error(concat(
            lit("centroidsByKey: NULL/empty embedding under key "),
            col(keyCol).cast("string")))).as("embedding"))
      .select(col("key"), posexplode(col("embedding")))
      .groupBy(col("key"), col("pos"))
      .agg(avg(col("col")).as("m"), count(lit(1)).as("n"))
    byPos.groupBy(col("key"))
      .agg(min(col("n")).as("_nmin"), max(col("n")).as("_nmax"),
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
      .select(col("key"),
        when(col("_nmin") === col("_nmax"), col("_nmax"))
          .otherwise(raise_error(concat(lit("ragged embeddings under key "),
            col("key").cast("string")))).as("n_vecs"),
        col("centroid"))
  }

  /** Per-label embedding outlier detection — the embed-quality gate a
    * training pipeline runs before trusting vectors: each vector's
    * cosine to its OWN label's mean-pooled centroid
    * ([[centroidsByKey]]), z-scored within the label, flagged when the
    * rounded z falls below `zThresh`. A mislabeled, corrupted, or
    * off-manifold embedding sits far from its class prototype and
    * surfaces with z ≪ 0 regardless of the label's absolute coherence
    * (tight and loose clusters both get their own scale).
    *
    * Output (vec_id, label, cos_c, z, is_outlier). Determinism: cos_c
    * rounds to 6 dp FIRST, the label mean/stddev aggregate over those
    * rounded values, z rounds to 6 dp, and the flag compares the
    * ROUNDED z — so every cross-engine comparison happens on 6dp
    * numbers and the boolean can only straddle if a z lands exactly on
    * the threshold. A zero-variance label (all vectors at one cosine)
    * z-scores to 0 — no outliers, not a division by zero. Degenerate
    * vectors and directionless centroids are excluded by the
    * [[Classify.nearestCentroid]] finite-norm rules. Scale shape: the
    * centroid build shuffles |labels|·dim partial averages, the
    * centroid join broadcasts a |labels|-sized table, and the label
    * stats are window aggregates over the scored stream (one exchange
    * on label) — each vector is scored exactly once.
    */
  def outliersByLabel(vecs: DataFrame, zThresh: Double = -2.0)
      : DataFrame = {
    val e = col("embedding").cast("array<double>")
    val fin = vecs.withColumn("_nrm", sqrt(dot(e, e)))
      .filter(finitePositiveNorm(col("_nrm")))
    val cents = centroidsByKey(fin.drop("_nrm"), "label")
      .select(col("key").as("label"), col("centroid"),
        sqrt(dot(col("centroid"), col("centroid"))).as("_cn"))
      .filter(finitePositiveNorm(col("_cn")))
    val scored = fin
      .select(col("vec_id"), col("label"), e.as("_e"), col("_nrm"))
      .join(broadcast(cents), Seq("label"))
      .withColumn("cos_c", round(
        dot(col("_e"), col("centroid")) / (col("_nrm") * col("_cn")), 6))
    // label mean/stddev as WINDOW aggregates over the scored stream —
    // a groupBy + self-join would re-execute the whole scoring subtree
    // (scan, centroid join, N·dim dot products) once per branch; the
    // window costs one exchange on label and scores each vector once
    val lw = Window.partitionBy(col("label"))
    scored
      .withColumn("_m", avg(col("cos_c")).over(lw))
      .withColumn("_s", stddev_pop(col("cos_c")).over(lw))
      .withColumn("z", round(
        when(col("_s") > 0, (col("cos_c") - col("_m")) / col("_s"))
          .otherwise(lit(0.0)), 6))
      .select(col("vec_id"), col("label"), col("cos_c"), col("z"),
        (col("z") < lit(zThresh)).as("is_outlier"))
  }
}
