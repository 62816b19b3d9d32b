package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{Bpe, Corpus, Dedup, Maintenance, Materialize, Multimodal, Retrieval, SetSimJoin, Similarity, TextAnalysis}

/** North-star query registry: dedup, similarity search, text analysis,
  * multimodal plumbing over `documents` / `embeddings` (builder prompt +
  * SURVEY.md §7.3 step 6).
  *
  * Hashing inside oracle-checked queries is md5-based so Spark and
  * DuckDB agree (see graft.ml.HashUtils). Approximate/structural
  * queries without a clean ANSI oracle (IVF ANN) are registered without
  * oracle SQL → driver rows-only check; their semantics are covered by
  * ScalaTest instead.
  */
object MlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** DuckDB rendering of HashUtils.hash60. */
  private def duckHash60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  // ------------------------------------------------------------- dedup

  val ns1DedupExact: Q = (s, dir) =>
    Dedup.exact(Tables.documents(s, dir))
      .orderBy(col("content_hash"))

  val ns1DedupExactSql: String =
    s"""SELECT ${duckHash60("text")} AS content_hash,
       |  min(doc_id) AS canonical_doc_id, count(*) AS n_copies
       |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  val ns2DedupJaccard: Q = (s, dir) =>
    Dedup.jaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.5)
      .orderBy(col("i"), col("j"))

  /** Mirrors Dedup.jaccardPairs exactly, INCLUDING the maxDf=1000
    * shingle-universe cap AND the hash60 posting-list keys, so Spark
    * and oracle agree at every scale factor (the capped hashed-Jaccard
    * is the defined semantics; hash60 portability is already proven by
    * the ns3 minhash oracle).
    */
  val ns2DedupJaccardSql: String =
    s"""WITH sh AS (
      |  SELECT doc_id, ${duckHash60("s")} AS s
      |  FROM (SELECT doc_id,
      |      unnest(list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)])) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |), keep AS (
      |  SELECT s, count(*) AS df FROM sh GROUP BY s HAVING count(*) <= 1000
      |), f AS (
      |  SELECT sh.doc_id, sh.s, keep.df FROM sh JOIN keep USING (s)
      |), ds AS (
      |  SELECT doc_id, count(*) AS n_sh FROM f GROUP BY doc_id
      |), p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*)::DOUBLE AS common
      |  FROM (SELECT * FROM f WHERE df >= 2) a
      |  JOIN (SELECT * FROM f WHERE df >= 2) b
      |    ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT i, j, round(common / (di.n_sh + dj.n_sh - common), 6) AS jaccard
      |FROM p JOIN ds di ON di.doc_id = p.i JOIN ds dj ON dj.doc_id = p.j
      |WHERE round(common / (di.n_sh + dj.n_sh - common), 6) >= 0.5
      |ORDER BY i, j""".stripMargin

  val ns3DedupMinhash: Q = (s, dir) =>
    Dedup.minhashPairs(Tables.documents(s, dir),
      n = 3, k = 16, bands = 4, threshold = 0.5)
      .orderBy(col("i"), col("j"))

  /** Mirrors Dedup.minhashSignatures: one md5 per shingle, then the
    * affine rehash h_k = (a_k·h + k) mod 2^31-1 with
    * a_k = ((k+1)·2654435761) mod 2^31-1 — exact int64 arithmetic in
    * both engines. Shared between the ns3 pair oracle and the ns16
    * clustering oracle.
    */
  private def minhashCteBody(src: String = "documents"): String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)
       |), hsx AS (
       |  SELECT doc_id,
       |    list_distinct([${duckHash60("s")} FOR s IN shingles]) AS hs
       |  FROM sh WHERE len(shingles) > 0
       |), sig AS (
       |  SELECT doc_id, hs,
       |    [list_min([((((seed + 1) * 2654435761) % 2147483647)
       |        * (h % 2147483647) + seed) % 2147483647
       |      FOR h IN hs]) FOR seed IN range(0, 16)] AS sig
       |  FROM hsx
       |), banded AS (
       |  SELECT doc_id, b AS band,
       |    md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS bh
       |  FROM sig, range(0, 4) t(b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT c.i, c.j,
       |    len(list_intersect(si.hs, sj.hs))::DOUBLE AS common,
       |    len(si.hs) AS ni, len(sj.hs) AS nj
       |  FROM cand c
       |  JOIN hsx si ON si.doc_id = c.i
       |  JOIN hsx sj ON sj.doc_id = c.j
       |)""".stripMargin

  val ns3DedupMinhashSql: String =
    s"""WITH ${minhashCteBody()}
       |SELECT i, j, round(common / (ni + nj - common), 6) AS jaccard
       |FROM verified WHERE round(common / (ni + nj - common), 6) >= 0.5
       |ORDER BY i, j""".stripMargin

  /** Near-dup clusters: MinHash pairs → connected components →
    * canonical (min) doc per component, singletons included. Spark
    * side is iterative label propagation; the oracle is a recursive
    * CTE over the identical pair set.
    */
  val ns16DedupClusters: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.clusters(docs,
      Dedup.minhashPairs(docs, n = 3, k = 16, bands = 4, threshold = 0.5))
      .orderBy(col("doc_id"))
  }

  val ns16DedupClustersSql: String =
    s"""WITH RECURSIVE ${minhashCteBody()},
       |pairs AS (
       |  SELECT i, j FROM verified
       |  WHERE round(common / (ni + nj - common), 6) >= 0.5
       |), edges AS (
       |  SELECT i AS a, j AS b FROM pairs
       |  UNION ALL SELECT j AS a, i AS b FROM pairs
       |), reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
       |)
       |SELECT node AS doc_id, min(lab) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  val ns4Simhash: Q = (s, dir) =>
    Dedup.simhash(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val ns4SimhashSql: String =
    s"""SELECT doc_id,
       |  list_sum([CASE WHEN len(list_filter(whashes, h -> (h >> j) & 1 = 1)) * 2
       |      >= len(whashes) THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |    FOR j IN range(0, 60)])::BIGINT AS simhash
       |FROM (SELECT doc_id,
       |    [${duckHash60("w")} FOR w IN string_split(text, ' ')] AS whashes
       |  FROM documents WHERE text IS NOT NULL)
       |ORDER BY doc_id""".stripMargin

  val ns5SimhashPairs: Q = (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 6)
      .orderBy(col("i"), col("j"))

  val ns5SimhashPairsSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_sum([CASE WHEN len(list_filter(whashes, h -> (h >> j) & 1 = 1)) * 2
       |        >= len(whashes) THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      FOR j IN range(0, 60)])::BIGINT AS simhash
       |  FROM (SELECT doc_id,
       |      [${duckHash60("w")} FOR w IN string_split(text, ' ')] AS whashes
       |    FROM documents WHERE text IS NOT NULL)
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY i, j""".stripMargin

  /** [[ns5SimhashPairs]] with the hot-bucket sub-split route FORCED
    * (cap = 8 — well under the fixture's hot-bucket sizes, so the
    * second-pigeonhole path carries real volume): the sub-split is
    * exact, so this gates on the ns5 oracle VERBATIM — identical
    * pairs from a radically different plan. The sub-split cuts
    * candidate volume where band collisions come from localized
    * agreement (MlSpec measures a >10× cut on that profile); under
    * GLOBAL signature bias the guaranteed-linear tool is ns5c's
    * occupancy cap (BASELINE.md's skew table records both).
    */
  val ns5bSimhashSubsplit: Q = (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 6,
      hotBucketCap = 8)
      .orderBy(col("i"), col("j"))

  val ns5bSimhashSubsplitSql: String = ns5SimhashPairsSql

  /** The LOSSY band-occupancy-capped variant
    * ([[Dedup.simhashPairsCapped]], cap = 25): hot buckets are
    * dropped before pairing, making candidate volume structurally
    * linear (≤ cap · bands · N) under ANY signature skew — the
    * documented recall contract of the ns2 df-cap discipline. The cap
    * is deterministic (bucket counts), so the whole thing gates
    * hash-exact: banding, the occupancy window, the cap filter,
    * hamming, and the distinct-pair dedup all restate in SQL.
    */
  val ns5cSimhashCapped: Q = (s, dir) =>
    Dedup.simhashPairsCapped(
      Dedup.simhash(Tables.documents(s, dir)), maxHamming = 6,
      bandOccupancyCap = 25)
      .orderBy(col("i"), col("j"))

  /** Band split of a 60-bit simhash into nb uneven bands — generated
    * from the same boundary arithmetic as [[Dedup.simhashBands]] so
    * the two can never drift.
    */
  private def duckSimhashBandedSql(nb: Int): String =
    (0 until nb).map { b =>
      val lo = 60 * b / nb
      val hi = 60 * (b + 1) / nb
      s"  SELECT doc_id, simhash, $b AS band, " +
        s"(simhash >> $lo) % ${1L << (hi - lo)} AS band_bits FROM sig"
    }.mkString("banded AS (\n", "\n  UNION ALL\n", "\n)")

  val ns5cSimhashCappedSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_sum([CASE WHEN len(list_filter(whashes, h -> (h >> j) & 1 = 1)) * 2
       |        >= len(whashes) THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      FOR j IN range(0, 60)])::BIGINT AS simhash
       |  FROM (SELECT doc_id,
       |      [${duckHash60("w")} FOR w IN string_split(text, ' ')] AS whashes
       |    FROM documents WHERE text IS NOT NULL)
       |), ${duckSimhashBandedSql(7)},
       |kept AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, band_bits) AS bsz
       |    FROM banded) WHERE bsz <= 25
       |)
       |SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM kept a JOIN kept b ON a.band = b.band
       |  AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY i, j""".stripMargin

  /** The simhash ROUTER as the gated default
    * ([[Dedup.simhashPairsAuto]], budget 128 pairs/doc, cap 25):
    * measures the banded candidate volume and routes to the exact
    * pigeonhole (this fixture: ~74 candidates/doc → exact, so the
    * output equals ns5's) or to the ns5c occupancy cap once skew
    * pushes past the budget (the Zipf corpus routes there — the skew
    * table measures it linear). The ORACLE restates the router
    * itself: one scalar volume test selecting between the full exact
    * restatement and the full capped restatement — so the routing
    * decision, not just the branches, is hash-proven. This closes the
    * r10 "weak" on ns5/ns5b: exact is no longer an unconditional
    * default that goes quadratic on boilerplate corpora.
    */
  val ns5dSimhashAuto: Q = (s, dir) =>
    Dedup.simhashPairsAuto(
      Dedup.simhash(Tables.documents(s, dir)), maxHamming = 6,
      bandOccupancyCap = 25, budgetPairsPerDoc = 128L)
      .orderBy(col("i"), col("j"))

  val ns5dSimhashAutoSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_sum([CASE WHEN len(list_filter(whashes, h -> (h >> j) & 1 = 1)) * 2
       |        >= len(whashes) THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      FOR j IN range(0, 60)])::BIGINT AS simhash
       |  FROM (SELECT doc_id,
       |      [${duckHash60("w")} FOR w IN string_split(text, ' ')] AS whashes
       |    FROM documents WHERE text IS NOT NULL)
       |), ${duckSimhashBandedSql(7)},
       |bs AS (
       |  SELECT band, band_bits, count(*) AS c FROM banded GROUP BY 1, 2
       |), cond AS (
       |  SELECT sum(c * (c - 1)) > 2 * 128 * (sum(c) // 7) AS hot
       |  FROM bs
       |), kept AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, band_bits) AS bsz
       |    FROM banded) WHERE bsz <= 25
       |), exactp AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |    AND NOT (SELECT hot FROM cond)
       |), cappedp AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM kept a JOIN kept b ON a.band = b.band
       |    AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |    AND (SELECT hot FROM cond)
       |)
       |SELECT * FROM (
       |  SELECT * FROM exactp UNION ALL SELECT * FROM cappedp)
       |ORDER BY i, j""".stripMargin

  /** Incremental near-dedup: new docs (doc_id % 3 == 0) flagged with
    * their closest near-duplicate in the existing corpus (the rest) —
    * the production dedup shape that never re-pairs the corpus with
    * itself. 65 cross-split pairs exist in the fixtures, so the gate
    * is far from vacuous.
    */
  val ns34DedupIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.simhashIncrement(
      newDocs = docs.filter(col("doc_id") % 3 === 0),
      corpus = docs.filter(col("doc_id") % 3 =!= 0),
      maxHamming = 6)
      .orderBy(col("doc_id"))
  }

  val ns34DedupIncrementalSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_sum([CASE WHEN len(list_filter(whashes, h -> (h >> j) & 1 = 1)) * 2
       |        >= len(whashes) THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      FOR j IN range(0, 60)])::BIGINT AS simhash
       |  FROM (SELECT doc_id,
       |      [${duckHash60("w")} FOR w IN string_split(text, ' ')] AS whashes
       |    FROM documents WHERE text IS NOT NULL)
       |), pairs AS (
       |  SELECT n.doc_id, o.doc_id AS dup_of,
       |    bit_count(xor(n.simhash, o.simhash)) AS hamming
       |  FROM sig n JOIN sig o
       |    ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
       |  WHERE bit_count(xor(n.simhash, o.simhash)) <= 6
       |), best AS (
       |  SELECT doc_id, dup_of, hamming,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY hamming, dup_of) AS rk
       |  FROM pairs
       |)
       |SELECT doc_id, dup_of, hamming FROM best WHERE rk = 1
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- similarity

  val ns6EmbedNearDup: Q = (s, dir) =>
    Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)
      .orderBy(col("i"), col("j"))

  /** The `nz` CTE mirrors Similarity.withNorm's degenerate-vector
    * exclusion: strictly positive AND finite squared norm. Both
    * halves matter — cosine is undefined for the zero vector, and a
    * NaN/Inf component poisons every cosine it touches (DuckDB, like
    * Spark, orders NaN above every double, so `> 0` alone would KEEP
    * a NaN-norm row the engine drops). withNorm guards sqrt(Σx²);
    * guarding Σx² here is equivalent: sqrt is monotone and maps
    * {0→0, Inf→Inf, NaN→NaN}. Shared by ns6 and ns7/ns7b.
    */
  private val duckNonZeroEmb: String =
    """nz AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE list_sum([x * x FOR x IN embedding::DOUBLE[]]) > 0
      |    AND isfinite(list_sum([x * x FOR x IN embedding::DOUBLE[]]))
      |)""".stripMargin

  val ns6EmbedNearDupSql: String =
    s"""WITH $duckNonZeroEmb
      |SELECT a.vec_id AS i, b.vec_id AS j,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      |FROM nz a JOIN nz b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
      |ORDER BY i, j""".stripMargin

  /** JL random projection 64→16 — hash-gated EXACTLY (unlike the ANN
    * siblings): the fixed-seed planes are embedded as literals in both
    * the Spark plan and the oracle SQL, and both engines evaluate the
    * same sequential dot product, so round-6dp coordinates compare
    * bit-for-bit. MlSpec asserts the JL property (projected cosines
    * track exact cosines) on the fixtures.
    */
  val ns45RandomProjection: Q = (s, dir) => {
    // one scalar column per coordinate, not an array<double>: the two
    // engines' arrow writers NAME the list element differently
    // (Spark "element", DuckDB "l") and the type-sensitive hash gate
    // would red on the name alone — scalars sidestep the entire class
    val proj = Similarity.randomProject(Tables.embeddings(s, dir),
      outDim = 16, dim = 64)
    proj.select(col("vec_id") +:
        (0 until 16).map(i =>
          element_at(col("proj"), i + 1).as(f"p$i%02d")): _*)
      .orderBy(col("vec_id"))
  }

  val ns45RandomProjectionSql: String = {
    val planes = Similarity.projectionPlanes(16, 64)
    val coords = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(v => java.lang.Double.toString(v)).mkString(", ")
      f"round(list_dot_product(embedding::DOUBLE[], [$lits]), 6) AS p$i%02d"
    }.mkString(",\n      |  ")
    s"""SELECT vec_id,
      |  $coords
      |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** Semantic dedup (SemDeDup): IVF-cell-pruned intra-cell cosine
    * threshold, greedy keep-earliest per duplicate star — the
    * embedding-space complement of the lexical ns1–ns5 tier. The
    * oracle RESTATES the whole pipeline declaratively: seed-centroid
    * assignment as an argmax window over the vector×centroid cross
    * join, then the quadratic intra-cell pair scan and the "no
    * earlier above-threshold neighbor" keep rule — so the hash gate
    * proves the cell-pruned engine equals the naive quadratic
    * restatement exactly (the cluster prune is the engine's plan
    * shape, not a semantic deviation, within cells). MlSpec measures
    * recall of the cell prune against the UNclustered quadratic.
    */
  val ns44SemDedup: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.semDedup(emb, Similarity.seedCentroids(emb, nCells = 16),
      threshold = 0.4)
      .orderBy(col("vec_id"))
  }

  val ns44SemDedupSql: String =
    s"""WITH $duckNonZeroEmb,
      |cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  ORDER BY vec_id LIMIT 16
      |),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk = 1
      |),
      |earliest AS (
      |  SELECT y.vec_id AS j, min(x.vec_id) AS ex
      |  FROM assign x JOIN assign y
      |    ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  JOIN nz a ON a.vec_id = x.vec_id
      |  JOIN nz b ON b.vec_id = y.vec_id
      |  WHERE round(list_cosine_similarity(
      |    a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
      |  GROUP BY y.vec_id
      |)
      |SELECT s.vec_id, s.cell, e.ex IS NULL AS keep,
      |  coalesce(e.ex, s.vec_id) AS exemplar
      |FROM assign s LEFT JOIN earliest e ON e.j = s.vec_id
      |ORDER BY s.vec_id""".stripMargin

  /** The cell-occupancy-capped SemDeDup ([[Similarity.semDedup]] with
    * cellOccupancyCap = 31): cells above the cap form NO pairs — the
    * embedding-space twin of ns5c's band-occupancy cap, making
    * candidate volume structurally ≤ cap · N under ANY embedding
    * skew (uncapped Σ|cell|² is quadratic once one topic/template
    * dominates the corpus — the measured ns5 floor in cosine space).
    * 31 splits this fixture's cell sizes (20–42): 7 hot cells
    * dropped, 9 paired, so the stated drop-hot-cell recall contract
    * is exercised, not theoretical. Deterministic (occupancy is a
    * count), hence hash-gated on the ns44 restatement with the
    * occupancy CTE applied to the pairing universe only — the final
    * projection still covers EVERY vector.
    */
  val ns44bSemDedupCapped: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.semDedup(emb, Similarity.seedCentroids(emb, nCells = 16),
      threshold = 0.4, cellOccupancyCap = 31L)
      .orderBy(col("vec_id"))
  }

  val ns44bSemDedupCappedSql: String =
    s"""WITH $duckNonZeroEmb,
      |cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  ORDER BY vec_id LIMIT 16
      |),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk = 1
      |),
      |pairable AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      count(*) OVER (PARTITION BY cell) AS osz
      |    FROM assign) WHERE osz <= 31
      |),
      |earliest AS (
      |  SELECT y.vec_id AS j, min(x.vec_id) AS ex
      |  FROM pairable x JOIN pairable y
      |    ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  JOIN nz a ON a.vec_id = x.vec_id
      |  JOIN nz b ON b.vec_id = y.vec_id
      |  WHERE round(list_cosine_similarity(
      |    a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
      |  GROUP BY y.vec_id
      |)
      |SELECT s.vec_id, s.cell, e.ex IS NULL AS keep,
      |  coalesce(e.ex, s.vec_id) AS exemplar
      |FROM assign s LEFT JOIN earliest e ON e.j = s.vec_id
      |ORDER BY s.vec_id""".stripMargin

  /** The SemDeDup ROUTER as the gated default
    * ([[Similarity.semDedupAuto]], budget 64 pairs/vec, cap 31):
    * measures the intra-cell candidate volume from the assignment
    * counts (ONE bounded aggregate, ≤ nCells rows) and routes to the
    * exact intra-cell scan (this fixture: Σ c·(c−1) ≈ 15.5k against
    * a 2·64·500 = 64k budget → exact, so the output equals ns44's)
    * or to the ns44b occupancy cap once one dominant cluster makes
    * Σ|cell|² quadratic (the clustered-embedding corpus routes
    * there — the skew table measures it linear). The ORACLE restates
    * the router itself: one scalar volume test selecting between the
    * full exact restatement and the full capped restatement — so the
    * routing decision, not just the branches, is hash-proven. This
    * closes the r11 "weak" on ns44: exact is no longer an
    * unconditional default that goes quadratic the day one topic
    * dominates the corpus.
    */
  val ns44cSemDedupAuto: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.semDedupAuto(emb,
      Similarity.seedCentroids(emb, nCells = 16),
      threshold = 0.4, cellOccupancyCap = 31L, budgetPairsPerVec = 64L)
      .orderBy(col("vec_id"))
  }

  val ns44cSemDedupAutoSql: String =
    s"""WITH $duckNonZeroEmb,
      |cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  ORDER BY vec_id LIMIT 16
      |),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk = 1
      |),
      |cellc AS (
      |  SELECT cell, count(*) AS c FROM assign GROUP BY 1
      |),
      |cond AS (
      |  SELECT coalesce(sum(c * (c - 1)), 0) >
      |    2 * 64 * coalesce(sum(c), 0) AS hot
      |  FROM cellc
      |),
      |pairable AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      count(*) OVER (PARTITION BY cell) AS osz
      |    FROM assign) WHERE osz <= 31
      |),
      |earliest_exact AS (
      |  SELECT y.vec_id AS j, min(x.vec_id) AS ex
      |  FROM assign x JOIN assign y
      |    ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  JOIN nz a ON a.vec_id = x.vec_id
      |  JOIN nz b ON b.vec_id = y.vec_id
      |  WHERE round(list_cosine_similarity(
      |    a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
      |    AND NOT (SELECT hot FROM cond)
      |  GROUP BY y.vec_id
      |),
      |earliest_capped AS (
      |  SELECT y.vec_id AS j, min(x.vec_id) AS ex
      |  FROM pairable x JOIN pairable y
      |    ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  JOIN nz a ON a.vec_id = x.vec_id
      |  JOIN nz b ON b.vec_id = y.vec_id
      |  WHERE round(list_cosine_similarity(
      |    a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
      |    AND (SELECT hot FROM cond)
      |  GROUP BY y.vec_id
      |),
      |earliest AS (
      |  SELECT * FROM earliest_exact
      |  UNION ALL SELECT * FROM earliest_capped
      |)
      |SELECT s.vec_id, s.cell, e.ex IS NULL AS keep,
      |  coalesce(e.ex, s.vec_id) AS exemplar
      |FROM assign s LEFT JOIN earliest e ON e.j = s.vec_id
      |ORDER BY s.vec_id""".stripMargin

  /** The ns44 seed-centroid CTE, shared by every IVF hash gate: the 16
    * smallest-vec_id non-degenerate vectors, exactly
    * [[Similarity.seedCentroids]].
    */
  private val duckSeedCents16: String =
    """cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  ORDER BY vec_id LIMIT 16
      |)""".stripMargin

  /** DuckDB restatement of [[Similarity.withRecall]] (sampleMod = 5)
    * over an upstream CTE named `approx` with (i, j) columns: the
    * sampled brute-force reference, per-query hit counts, and the
    * 4 dp recall — so the recall COLUMN of the ANN gates is itself
    * hash-proven, not just carried as evidence. Parameterized on the
    * corpus CTE (`nz`, or the tombstone-surviving `alive` for ns8f,
    * where the fair reference is brute force over what a rebuild
    * would index).
    */
  private def sampledRecallSql(corpus: String): String =
    s"""brute AS (
      |  SELECT i, j FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, b.vec_id) AS rk
      |    FROM $corpus a JOIN $corpus b ON a.vec_id <> b.vec_id
      |    WHERE a.vec_id % 5 = 0) WHERE rk <= 5
      |), hits AS (
      |  SELECT ap.i, count(*) AS n_hits
      |  FROM approx ap JOIN brute bt ON ap.i = bt.i AND ap.j = bt.j
      |  GROUP BY ap.i
      |), recalls AS (
      |  SELECT bt.i, round(coalesce(h.n_hits, 0)::DOUBLE / bt.n_true, 4)
      |    AS recall
      |  FROM (SELECT i, count(*) AS n_true FROM brute GROUP BY i) bt
      |  LEFT JOIN hits h ON h.i = bt.i
      |)""".stripMargin

  private val duckSampledRecall: String = sampledRecallSql("nz")

  /** ns6's scale path: LSH band-collision candidates + exact cosine
    * re-score (subset of ns6 by construction — a pair missed by every
    * band is lost). Since r9 this is HASH-GATED despite the "random"
    * hyperplanes: the fixed-seed planes are embedded as literals in
    * the oracle (the ns45 pattern via [[Similarity.lshPlanes]]), the
    * sign-bit banding is a CASE sum over the identical sequential dot
    * products, and the band-collision join + exact re-score restate
    * declaratively — so the candidate cut itself is driver-proven,
    * not just its recall (which MlSpec still asserts).
    */
  val ns6bEmbedNearDupLsh: Q = (s, dir) =>
    // cap explicitly OFF: this gate states the UNCAPPED candidate cut
    // (its oracle's cand CTE has no bucket-size filter) — the library
    // default is the registry-proven 200 since r14, and relying on it
    // here would let the engine drop >200-occupancy buckets the SQL
    // keeps (the session review's finding); ns6c gates the capped form
    Similarity.nearDupPairsLsh(Tables.embeddings(s, dir),
      threshold = 0.4, nBands = 8, bitsPerBand = 4, dim = 64,
      bandOccupancyCap = 0L)
      .orderBy(col("i"), col("j"))

  /** The banded CTE shared by the ns6b/ns15 LSH oracles: one UNION ALL
    * leg per band, bucket = Σ 2^p · [dot(e, plane_{b,p}) > 0] with the
    * plane values inlined as literals from the SAME generator the
    * engine uses.
    */
  private def lshBandedSql(nBands: Int, bitsPerBand: Int,
      dim: Int): String = {
    val planes = Similarity.lshPlanes(nBands, bitsPerBand, dim)
    (0 until nBands).map { b =>
      val bits = (0 until bitsPerBand).map { p =>
        val lits = planes(b * bitsPerBand + p)
          .map(v => java.lang.Double.toString(v)).mkString(", ")
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], [$lits]) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $b AS band, $bits AS bucket FROM nz"
    }.mkString("banded AS (\n", "\n  UNION ALL\n", "\n)")
  }

  val ns6bEmbedNearDupLshSql: String =
    s"""WITH $duckNonZeroEmb,
      |${lshBandedSql(nBands = 8, bitsPerBand = 4, dim = 64)},
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.vec_id < b.vec_id
      |)
      |SELECT i, j,
      |  round(list_cosine_similarity(x.embedding::DOUBLE[],
      |    y.embedding::DOUBLE[]), 6) AS cos
      |FROM cand JOIN nz x ON x.vec_id = i JOIN nz y ON y.vec_id = j
      |WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
      |  y.embedding::DOUBLE[]), 6) >= 0.4
      |ORDER BY i, j""".stripMargin

  /** The embedding near-dup ROUTER as the gated default
    * ([[Similarity.nearDupPairsAuto]], budget 512 pairs/vec): ONE
    * count routes to the exact all-pairs scan while N·(N−1)/2 stays
    * within budget·N (this fixture: 500 vectors → exact, output
    * equals ns6's) or to the ns6b sign-LSH banded cut past it — the
    * one router in the family whose capped branch changes RECALL
    * (LSH candidates are a subset), which the operator contract
    * states rather than hides. The oracle restates the routing
    * scalar and BOTH branch restatements, so the decision is
    * hash-proven (the ns5d discipline, completing the
    * scale-safe-default story for every dedup family: lexical ns5d,
    * lexical-retrieval ns46i, semantic-cell ns44c, embedding-pair
    * ns6c). Round 13 added the sign-LSH occupancy cap (200) inside
    * the routed branch — the uncapped banded cut itself measured exp
    * 1.87 on the clustered-embedding tier (collapsed sign buckets) —
    * restated in the oracle as the windowed bucket count, the ns5d
    * capped-branch pattern; this fixture routes exact, so the gate
    * proves the routing plus the unchanged under-budget output.
    */
  val ns6cEmbedNearDupAuto: Q = (s, dir) =>
    Similarity.nearDupPairsAuto(Tables.embeddings(s, dir),
      threshold = 0.4, nBands = 8, bitsPerBand = 4, dim = 64,
      budgetPairsPerVec = 512L, bandOccupancyCap = 200L)
      .orderBy(col("i"), col("j"))

  val ns6cEmbedNearDupAutoSql: String =
    s"""WITH $duckNonZeroEmb,
      |cond AS (
      |  SELECT count(*) > 2 * 512 + 1 AS hot FROM nz
      |),
      |${lshBandedSql(nBands = 8, bitsPerBand = 4, dim = 64)},
      |bkept AS (
      |  SELECT vec_id, band, bucket FROM (
      |    SELECT vec_id, band, bucket,
      |      count(*) OVER (PARTITION BY band, bucket) AS bsz
      |    FROM banded) WHERE bsz <= 200
      |),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |  FROM bkept a JOIN bkept b
      |    ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.vec_id < b.vec_id
      |),
      |exactp AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[],
      |      b.embedding::DOUBLE[]), 6) AS cos
      |  FROM nz a JOIN nz b ON a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
      |      b.embedding::DOUBLE[]), 6) >= 0.4
      |    AND NOT (SELECT hot FROM cond)
      |),
      |lshp AS (
      |  SELECT i, j,
      |    round(list_cosine_similarity(x.embedding::DOUBLE[],
      |      y.embedding::DOUBLE[]), 6) AS cos
      |  FROM cand JOIN nz x ON x.vec_id = i JOIN nz y ON y.vec_id = j
      |  WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
      |      y.embedding::DOUBLE[]), 6) >= 0.4
      |    AND (SELECT hot FROM cond)
      |)
      |SELECT * FROM (
      |  SELECT * FROM exactp UNION ALL SELECT * FROM lshp)
      |ORDER BY i, j""".stripMargin

  val ns7SimTopk: Q = (s, dir) =>
    Similarity.bruteTopK(Tables.embeddings(s, dir), k = 5)
      .orderBy(col("i"), col("rk"))

  val ns7SimTopkSql: String =
    s"""WITH $duckNonZeroEmb
      |SELECT i, rk, j, cos FROM (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC,
      |        b.vec_id) AS rk
      |  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id)
      |WHERE rk <= 5 ORDER BY i, rk""".stripMargin

  /** ns7 through the typed TopKByScore Aggregator — the declared scale
    * path (map-side partial top-k, ships ≤k entries per query vector
    * per partition instead of shuffling every pair). Gated against the
    * SAME oracle as ns7: identical output is the contract.
    */
  val ns7bSimTopkAgg: Q = (s, dir) =>
    Similarity.bruteTopKAgg(Tables.embeddings(s, dir), k = 5)

  /** SQ8-quantized top-k: candidates ranked by int8-quantized cosine
    * (the N² scan touches 1-byte components — the 100 TB bandwidth
    * play), refine=4k re-scored exactly. Quantization is EXACT
    * arithmetic — floor(x·127/amax + 0.5) per component, integer dot
    * products below 2^53 — so since r9 the whole chain (quantize →
    * approximate rank → refine cut → exact re-score → recall) is
    * restated in DuckDB and HASH-GATED; "approximate" refers only to
    * the recall lost to the refine cut, which the gated recall column
    * measures (MlSpec keeps the floor and error-bound tests).
    */
  val ns7cSimTopkSq8: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.withRecall(
      Similarity.sq8TopK(emb, k = 5, refine = 20),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns7cSimTopkSq8Sql: String =
    s"""WITH $duckNonZeroEmb,
      |qz AS (
      |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS qn FROM (
      |    SELECT vec_id,
      |      [floor(x * 127.0 / amax + 0.5) FOR x IN e] AS q FROM (
      |      SELECT vec_id, embedding::DOUBLE[] AS e,
      |        list_max([abs(x) FOR x IN embedding::DOUBLE[]]) AS amax
      |      FROM nz))
      |  WHERE sqrt(list_dot_product(q, q)) > 0
      |), cand AS (
      |  SELECT i, j FROM (
      |    SELECT za.vec_id AS i, zb.vec_id AS j,
      |      row_number() OVER (PARTITION BY za.vec_id
      |        ORDER BY round(list_dot_product(za.q, zb.q)
      |          / (za.qn * zb.qn), 6) DESC, zb.vec_id) AS qrk
      |    FROM qz za JOIN qz zb ON za.vec_id <> zb.vec_id) WHERE qrk <= 20
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand c JOIN nz a ON a.vec_id = c.i
      |    JOIN nz b ON b.vec_id = c.j) WHERE rk <= 5
      |),
      |$duckSampledRecall
      |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 2""".stripMargin

  /** Sign-bit (1-bit) quantized top-k — the binary-hash extreme of
    * the quantization ladder: candidates ranked by Hamming distance
    * over packed sign bits (8 bytes/vector at dim 64, xor+popcount
    * per pair), refine=100 re-scored exactly (binary codes are coarse — the standard posture is a shallow bit-rank + deep exact rerank, and the rerank join is linear in refine·N). The Hamming rank is
    * INTEGER, so the candidate cut has no float-ordering hazard, and
    * the sign of each component is a pure function of the data —
    * hash-gated end to end via the popcount identity hamming(a,b) =
    * pc(a)+pc(b)−2·(a·b) over 0/1 sign vectors (the packed form is
    * spec-pinned equal to that naive form on every pair).
    */
  val ns7fSimTopkBinary: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.withRecall(
      Similarity.binaryTopK(emb, dim = 64, k = 5, refine = 100),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns7fSimTopkBinarySql: String =
    s"""WITH $duckNonZeroEmb,
      |sgn AS (
      |  SELECT vec_id, embedding, s, list_sum(s) AS pc FROM (
      |    SELECT vec_id, embedding,
      |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
      |        FOR x IN embedding::DOUBLE[]] AS s
      |    FROM nz)
      |), cand AS (
      |  SELECT i, j FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY (a.pc + b.pc - 2 * list_dot_product(a.s, b.s)),
      |          b.vec_id) AS hrk
      |    FROM sgn a JOIN sgn b ON a.vec_id <> b.vec_id) WHERE hrk <= 100
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand c JOIN nz a ON a.vec_id = c.i
      |    JOIN nz b ON b.vec_id = c.j) WHERE rk <= 5
      |),
      |$duckSampledRecall
      |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 2""".stripMargin

  /** The binary index's STREAMED-append tier
    * ([[graft.streaming.VectorIngest.ingestBatchBinary]], closing the
    * last index family without one — raw and PQ both had theirs):
    * build the sign-bit index on 3/4 of the corpus, land the held-out
    * quarter as two committed `ingest_batch=` partitions packed with
    * the STORED dim, and serve base ∪ streamed through the
    * vec_id-deduped union read. Gated on ns7f's full-corpus oracle:
    * sign bits are a pure per-row function of (vector, dim), so the
    * streamed index must answer BIT-identically to a from-scratch
    * build of the union — hash-equality proves exactly that, recall
    * column included. VectorIngestSpec covers the lifecycle edges
    * (replay absorption, recycled-id refusal, fold, compaction
    * refusal-then-reclaim).
    */
  val ns7hSimBinaryStreamed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bin_index_str")
    if (ivfIndexWritten.add(path)) {
      // this entry deliberately leaves its stream sibling HOLDING
      // data (the union-serving state under test), so a rebuild in a
      // later session must take the refusal's explicit-delete path —
      // the entry owns the fixture and reconstructs it from scratch
      val sib = new org.apache.hadoop.fs.Path(
        path + Similarity.StreamSiblingSuffix)
      sib.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(sib, true)
      Similarity.writeBinaryIndex(emb.filter(col("vec_id") % 4 =!= 0),
        path, dim = 64)
      graft.streaming.VectorIngest.ingestBatchBinary(
        emb.filter(col("vec_id") % 8 === 0), 0L, path)
      graft.streaming.VectorIngest.ingestBatchBinary(
        emb.filter(col("vec_id") % 4 === 0 && col("vec_id") % 8 =!= 0),
        1L, path)
    }
    Similarity.withRecall(
      graft.streaming.VectorIngest.queryServedBinary(s, path, emb,
        emb.select(col("vec_id")), k = 5, refine = 100),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** The binary index's takedown lifecycle ([[Similarity
    * .deleteFromBinaryIndex]] / [[Similarity.compactBinaryIndex]] —
    * the last served tier without one): build the sign-bit index on
    * the full corpus, soft-delete every 7th vector (id-sized
    * tombstone append, data files byte-identical — MlSpec measures),
    * COMPACT (the flat table's staged uuid-file-swap rewrite), then
    * serve the survivors' queries. Gated on the ns7f binary-Hamming
    * oracle over the ALIVE corpus: hash-equality proves
    * delete-then-compact-then-serve answers exactly like a
    * from-scratch build without the deleted vectors, recall column
    * included (the ns8f/ns8g discipline for the scan tier).
    */
  val ns7gSimBinaryCompacted: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bin_index_cmp")
    if (ivfIndexWritten.add(path)) {
      Similarity.writeBinaryIndex(emb, path, dim = 64)
      Similarity.deleteFromBinaryIndex(s,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), path)
      Similarity.compactBinaryIndex(s, path)
    }
    val alive = emb.filter(col("vec_id") % 7 =!= 0)
    Similarity.withRecall(
      Similarity.binaryTopKServed(s, path, alive,
        alive.select(col("vec_id")), k = 5, refine = 100),
      Similarity.bruteTopK(alive, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns7gSimBinaryCompactedSql: String =
    s"""WITH $duckNonZeroEmb,
      |alive AS (
      |  SELECT * FROM nz WHERE vec_id % 7 <> 0
      |), sgn AS (
      |  SELECT vec_id, embedding, s, list_sum(s) AS pc FROM (
      |    SELECT vec_id, embedding,
      |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
      |        FOR x IN embedding::DOUBLE[]] AS s
      |    FROM alive)
      |), cand AS (
      |  SELECT i, j FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY (a.pc + b.pc - 2 * list_dot_product(a.s, b.s)),
      |          b.vec_id) AS hrk
      |    FROM sgn a JOIN sgn b ON a.vec_id <> b.vec_id) WHERE hrk <= 100
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand c JOIN alive a ON a.vec_id = c.i
      |    JOIN alive b ON b.vec_id = c.j) WHERE rk <= 5
      |),
      |${sampledRecallSql("alive")}
      |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 2""".stripMargin

  /** Radius-bounded near-dup PAIR MINING over the persisted sign-bit
    * index ([[Similarity.binaryNearDupPairs]], radius 16, occupancy
    * cap 100): pigeonhole-banded candidates over the packed bits,
    * full-Hamming verify, no float vector ever read — the r11
    * verdict's "banded pre-cut" for the binary tier, as the mining
    * complement of the ns7f–ns7h serving chain. Exact by pigeonhole,
    * so the oracle is the NAIVE QUADRATIC restatement (the ns39
    * lossless-pruning discipline) with Hamming as
    * pc(a)+pc(b)−2·(a·b) over 0/1 sign lists — the ns7f bit-parity
    * trick. The cap cannot bind on this fixture (max bucket 76), so
    * exactness gates; MlSpec exercises the cap's drop-hot-bucket
    * contract and the cross-word banding on a dim-128 synthetic. At
    * dim 64 / radius 16 the 3–4-bit bands are weakly selective (the
    * docstring says so) — the tier's asymptotic win is the
    * high-dim/small-radius regime, and the cap is the skew bound.
    */
  val ns7iBinaryNearDup: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bin_index_nd")
    if (ivfIndexWritten.add(path))
      Similarity.writeBinaryIndex(emb, path, dim = 64)
    Similarity.binaryNearDupPairs(s, path, maxHamming = 16,
      bandOccupancyCap = 100L)
      .orderBy(col("i"), col("j"))
  }

  val ns7iBinaryNearDupSql: String =
    s"""WITH $duckNonZeroEmb,
      |sgn AS (
      |  SELECT vec_id, s, list_sum(s) AS pc FROM (
      |    SELECT vec_id,
      |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
      |        FOR x IN embedding::DOUBLE[]] AS s
      |    FROM nz)
      |)
      |SELECT i, j, hamming FROM (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    (a.pc + b.pc - 2 * list_dot_product(a.s, b.s))::BIGINT
      |      AS hamming
      |  FROM sgn a JOIN sgn b ON a.vec_id < b.vec_id)
      |WHERE hamming <= 16
      |ORDER BY i, j""".stripMargin

  /** The binary pair-MINING router as the gated default
    * ([[Similarity.binaryNearDupPairsAuto]], radius 16, occupancy cap
    * 100, budget 128 candidates/vec): ns7i's cap was a manual knob —
    * the router measures Σ c·(c−1) over the (band, band_bits)
    * occupancy histogram with ONE bounded aggregate and engages it
    * only past the budget. THIS fixture goes HOT (the dim-64/radius-16
    * regime's 3–4-bit bands collide constantly — the ns7i docstring's
    * own caveat — so banded candidate volume exceeds 128·N), which
    * makes ns7k the round's one gate where the CAPPED branch is
    * hash-proven live: the oracle restates the condition, the exact
    * quadratic branch, and the capped branch (list-slice band buckets
    * + windowed count), and since the cap cannot bind here (max
    * bucket 76 < 100) the live capped output still equals ns7i's
    * quadratic restatement — routing, capping machinery, and
    * exactness all in one hash.
    */
  val ns7kBinaryNearDupAuto: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bin_index_nd")
    if (ivfIndexWritten.add(path))
      Similarity.writeBinaryIndex(emb, path, dim = 64)
    Similarity.binaryNearDupPairsAuto(s, path, maxHamming = 16,
      bandOccupancyCap = 100L, budgetCandidatesPerVec = 128L)
      .orderBy(col("i"), col("j"))
  }

  val ns7kBinaryNearDupAutoSql: String =
    s"""WITH $duckNonZeroEmb,
      |sgn AS (
      |  SELECT vec_id, s, list_sum(s) AS pc FROM (
      |    SELECT vec_id,
      |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
      |        FOR x IN embedding::DOUBLE[]] AS s
      |    FROM nz)
      |),
      |${signBandedSql(dim = 64, nb = 17)},
      |cellc AS (
      |  SELECT band, band_bits, count(*) AS c
      |  FROM bandedq GROUP BY 1, 2
      |), cond AS (
      |  SELECT coalesce(sum(c::HUGEINT * (c - 1)), 0) >
      |    128 * (SELECT count(*) FROM sgn) AS hot
      |  FROM cellc
      |), exactp AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    (a.pc + b.pc - 2 * list_dot_product(a.s, b.s))::BIGINT
      |      AS hamming
      |  FROM sgn a JOIN sgn b ON a.vec_id < b.vec_id
      |  WHERE (a.pc + b.pc - 2 * list_dot_product(a.s, b.s)) <= 16
      |    AND NOT (SELECT hot FROM cond)
      |), bkeptq AS (
      |  SELECT vec_id, band, band_bits FROM (
      |    SELECT vec_id, band, band_bits,
      |      count(*) OVER (PARTITION BY band, band_bits) AS bsz
      |    FROM bandedq) WHERE bsz <= 100
      |), cappedp AS (
      |  SELECT DISTINCT p.i, p.j,
      |    (x.pc + y.pc - 2 * list_dot_product(x.s, y.s))::BIGINT
      |      AS hamming
      |  FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j
      |    FROM bkeptq a JOIN bkeptq b
      |      ON a.band = b.band AND a.band_bits = b.band_bits
      |      AND a.vec_id < b.vec_id) p
      |  JOIN sgn x ON x.vec_id = p.i JOIN sgn y ON y.vec_id = p.j
      |  WHERE (x.pc + y.pc - 2 * list_dot_product(x.s, y.s)) <= 16
      |    AND (SELECT hot FROM cond)
      |)
      |SELECT * FROM (
      |  SELECT * FROM exactp UNION ALL SELECT * FROM cappedp)
      |ORDER BY i, j""".stripMargin

  /** The binary SERVE router as the gated default
    * ([[Similarity.binaryTopKServedAuto]], radius 8, occupancy cap
    * 100, candidate budget 10M) — the r12 verdict's item 3:
    * [[Similarity.binaryTopKServed]]'s |queries|·N popcount scan is
    * the right plan at modest query sets and the wrong one when the
    * whole corpus queries itself at scale, so ONE bounded aggregate
    * (alive index size × resolved-query count) measures the volume
    * and routes. This fixture sits UNDER the budget (500·499 ≈ 250k
    * candidates vs 10M), so the scan branch runs and the gate is
    * ns7f's full oracle — hash-equality proves the routed default
    * changes nothing until the measurement says it must. Past the
    * budget (sf0.1 bench: ~25M; the clustered skew tier) the
    * pigeonhole-banded branch serves radius-bounded candidates from
    * the same packed bits: the oracle restates the routing condition
    * and BOTH branches ns8i-style — the banded branch IN FULL,
    * occupancy cap included (bands as 0/1-list slices over the same
    * integer boundaries, bucket sizes as a windowed count, then the
    * pc(a)+pc(b)−2·(a·b) Hamming with the ham ≤ 8 radius bound), the
    * r13 review finding: an uncapped restatement would hash-diverge
    * on exactly the hot corpus the cap exists for. MlSpec gates the
    * live banded branch against a naive recompute and the cap's
    * candidate-side-only contract; the capped SQL itself is validated
    * against the engine's hot route in the same spec discipline (a
    * forced-hot budget compare, dev-run against DuckDB).
    */
  val ns7jSimBinaryRouted: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bin_index_rt")
    if (ivfIndexWritten.add(path))
      Similarity.writeBinaryIndex(emb, path, dim = 64)
    Similarity.withRecall(
      Similarity.binaryTopKServedAuto(s, path, emb,
        emb.select(col("vec_id")), k = 5, refine = 100, maxHamming = 8,
        budgetCandidates = 10000000L, bandOccupancyCap = 100L),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** The sign-band explode restated over the 0/1 sign LIST: band b
    * covers 0-based positions [dim·b/nb, dim·(b+1)/nb) — the SAME
    * integer arithmetic as the engine's signBanded, emitted from it
    * so boundaries cannot drift; the list slice is an injective image
    * of the packed-long band key (fixed band window), so (band,
    * band_bits) partitions, joins, and occupancy counts identically.
    * DuckDB slices are 1-based inclusive: [lo+1 : hi].
    */
  private def signBandedSql(dim: Int, nb: Int): String =
    (0 until nb).map { b =>
      val lo = dim * b / nb
      val hi = dim * (b + 1) / nb
      s"  SELECT vec_id, s, pc, $b AS band, s[${lo + 1}:$hi] " +
        "AS band_bits FROM sgn"
    }.mkString("bandedq AS (\n", "\n  UNION ALL\n", "\n)")

  val ns7jSimBinaryRoutedSql: String =
    s"""WITH $duckNonZeroEmb,
      |sgn AS (
      |  SELECT vec_id, embedding, s, list_sum(s) AS pc FROM (
      |    SELECT vec_id, embedding,
      |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
      |        FOR x IN embedding::DOUBLE[]] AS s
      |    FROM nz)
      |), cond AS (
      |  SELECT (SELECT count(*) FROM sgn)::HUGEINT *
      |    ((SELECT count(*) FROM sgn) - 1) > 10000000 AS hot
      |), cand_scan AS (
      |  SELECT i, j FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY (a.pc + b.pc - 2 * list_dot_product(a.s, b.s)),
      |          b.vec_id) AS hrk
      |    FROM sgn a JOIN sgn b ON a.vec_id <> b.vec_id) WHERE hrk <= 100
      |), approx_scan AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand_scan c JOIN nz a ON a.vec_id = c.i
      |    JOIN nz b ON b.vec_id = c.j)
      |  WHERE rk <= 5 AND NOT (SELECT hot FROM cond)
      |),
      |${signBandedSql(dim = 64, nb = 9)},
      |bkeptq AS (
      |  SELECT vec_id, band, band_bits FROM (
      |    SELECT vec_id, band, band_bits,
      |      count(*) OVER (PARTITION BY band, band_bits) AS bsz
      |    FROM bandedq) WHERE bsz <= 100
      |), cand_bandp AS (
      |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |  FROM bandedq a JOIN bkeptq b
      |    ON a.band = b.band AND a.band_bits = b.band_bits
      |    AND a.vec_id <> b.vec_id
      |), cand_band AS (
      |  SELECT i, j FROM (
      |    SELECT c.i, c.j,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY (x.pc + y.pc - 2 * list_dot_product(x.s, y.s)),
      |          c.j) AS hrk
      |    FROM cand_bandp c JOIN sgn x ON x.vec_id = c.i
      |    JOIN sgn y ON y.vec_id = c.j
      |    WHERE (x.pc + y.pc - 2 * list_dot_product(x.s, y.s)) <= 8)
      |  WHERE hrk <= 100
      |), approx_band AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand_band c JOIN nz a ON a.vec_id = c.i
      |    JOIN nz b ON b.vec_id = c.j)
      |  WHERE rk <= 5 AND (SELECT hot FROM cond)
      |), approx AS (
      |  SELECT * FROM approx_scan UNION ALL SELECT * FROM approx_band
      |),
      |$duckSampledRecall
      |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 2""".stripMargin

  /** IVF-PQ top-k — the quantized serving layout: IVF cells bound the
    * candidate set, an 8-subspace × 16-codeword product quantizer
    * bounds the bytes per candidate (8 code bytes + one reconstructed
    * norm vs SQ8's 64 bytes and the raw vector's 512 — MlSpec measures
    * the shrink), ADC-ranked candidates re-scored exactly. Codebook
    * fitted on the hash-sampled quarter (the ns8b shape: a model
    * fitted offline on a slice, broadcast to encode the corpus).
    * Approximate → rows + in-result recall, floor in MlSpec; the
    * recall CEILING is the probed cells (ns8c with the same
    * cells/probes and no quantization measures ~0.39 on this
    * fixture), and refine=50 brings the ADC path to ~0.96 of that
    * ceiling — the quantization's own loss is the small residual,
    * which MlSpec pins against ns8c directly.
    */
  val ns7dSimIvfPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    // the fit lives INSIDE withRecall's by-name approx block: its
    // driver-serialized Lloyd jobs then overlap the brute reference
    // pass the gate launches first (guide §2.6)
    Similarity.withRecall(
      {
        val cb = Similarity.fitPqCodebook(
          emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
          nSub = 8, codesPerSub = 16, iters = 2)
        Similarity.ivfPqTopK(emb,
          Similarity.seedCentroids(emb, nCells = 16),
          cb, nSub = 8, codesPerSub = 16, k = 5, refine = 50, probes = 3)
      },
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** The SERVED form of ns7d (the ns8d pattern applied to PQ): the
    * cell-partitioned index persists only (vec_id, codes, rnrm) —
    * nSub bytes + a double per vector — with centroids and codebook
    * stored alongside; queries partition-prune to probed cells,
    * ADC-rank, and re-score the refine set against the raw embedding
    * table (touched for ~refine rows per query, never scanned).
    * MlSpec pins served == in-memory bit-for-bit.
    */
  val ns7eSimIvfPqServed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivfpq_index")
    if (ivfIndexWritten.add(path)) {
      // the fit lives INSIDE the build-once block: at query time the
      // codebook (like the centroids) is read back off the index —
      // training is an index-build cost, never a per-query one
      val cb = Similarity.fitPqCodebook(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
        nSub = 8, codesPerSub = 16, iters = 2)
      Similarity.writeIvfPqIndex(emb,
        Similarity.seedCentroids(emb, nCells = 16), cb, nSub = 8, path)
    }
    Similarity.withRecall(
      Similarity.queryIvfPqIndex(s, path, emb, emb, k = 5, refine = 50,
        probes = 3),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** ns7d's (and ns7e's — MlSpec pins served == in-memory bit-for-bit)
    * oracle, the r9 graduation: the PQ codebook is pinned as literals
    * ([[FittedModels.pqCodebookValues]], deterministic fit) and the
    * ENTIRE serving chain restates — multi-probe cell ranking,
    * per-(vector, subspace) nearest-codeword assignment (rounded-L2
    * argmin, code tiebreak), the sorted-fold reconstructed norm, the
    * ADC cosine as a sub-ascending sequential fold of LUT dots
    * (graft_adc's exact summation order), the refine-50 cut, exact
    * re-score top-5, and the sampled recall. Only the Lloyd fit
    * itself stays un-restated — pinned, not unchecked.
    */
  /** The shared halves of the IVF-PQ serving oracle: everything up
    * to the candidate join (codebook literals, multi-probe ranking,
    * per-subspace encoding, reconstructed norms) and everything after
    * it (the ADC pairsum fold, refine, exact rescore, sampled recall)
    * — ns7d/ns7e swap in the plain crk=1 candidate CTE, ns7l swaps in
    * the measured-volume router's condition and BOTH branches, so the
    * shared text can never drift between the three.
    */
  private val ivfPqOraclePrefix: String =
    s"""WITH $duckNonZeroEmb,
      |$duckSeedCents16,
      |cb AS (
      |  SELECT sub, code, ce, list_dot_product(ce, ce) AS cn2
      |  FROM (VALUES
      |${FittedModels.pqCodebookValues}) t(sub, code, ce)
      |), nrms AS (
      |  SELECT vec_id, sqrt(list_dot_product(embedding::DOUBLE[],
      |    embedding::DOUBLE[])) AS nrm
      |  FROM nz
      |), ranked AS (
      |  SELECT vec_id, cell, crk FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk <= 3
      |), sv AS (
      |  SELECT vec_id, s.sub,
      |    (embedding::DOUBLE[])[s.sub * 8 + 1 : s.sub * 8 + 8] AS sv
      |  FROM nz, (SELECT unnest(range(0, 8))::INT AS sub) s
      |), codes AS (
      |  SELECT vec_id, sub, code, cn2 FROM (
      |    SELECT s.vec_id, s.sub, c.code, c.cn2,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub
      |        ORDER BY round(list_dot_product(s.sv, s.sv)
      |          - 2 * list_dot_product(s.sv, c.ce) + c.cn2, 6),
      |          c.code) AS ark
      |    FROM sv s JOIN cb c USING (sub)) WHERE ark = 1
      |), enc AS (
      |  SELECT vec_id, rnrm FROM (
      |    SELECT vec_id, sqrt(list_reduce(
      |      list_prepend(0.0::DOUBLE, list_sort(list(cn2))),
      |      (a, b) -> a + b)) AS rnrm
      |    FROM codes GROUP BY vec_id)
      |  WHERE rnrm > 0 AND isfinite(rnrm)
      |""".stripMargin.stripSuffix("\n")

  /** The shared ADC→refine→rescore middle of the PQ oracle, up to the
    * closed `approx` CTE — the recall-bearing and BARE suffixes both
    * build on it so the serving restatement can never drift between
    * the gate forms.
    */
  private val ivfPqOracleMid: String =
    """), pairsum AS (
      |  SELECT c.i, c.j, c.na, c.rnrm,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list(list_dot_product(sq.sv, b.ce) ORDER BY jc.sub)),
      |      (a, b) -> a + b) AS s
      |  FROM cand c
      |  JOIN codes jc ON jc.vec_id = c.j
      |  JOIN cb b ON b.sub = jc.sub AND b.code = jc.code
      |  JOIN sv sq ON sq.vec_id = c.i AND sq.sub = jc.sub
      |  GROUP BY c.i, c.j, c.na, c.rnrm
      |), refine AS (
      |  SELECT i, j FROM (
      |    SELECT i, j, row_number() OVER (PARTITION BY i
      |      ORDER BY round(s / (na * rnrm), 6) DESC, j) AS ark
      |    FROM pairsum) WHERE ark <= 50
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT r.i, r.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY r.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, r.j) AS rk
      |    FROM refine r JOIN nz a ON a.vec_id = r.i
      |    JOIN nz b ON b.vec_id = r.j) WHERE rk <= 5
      |)""".stripMargin

  private val ivfPqOracleSuffix: String =
    ivfPqOracleMid + ",\n" +
      s"""$duckSampledRecall
      |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 2""".stripMargin

  /** The BARE suffix (r14 verdict item 4): the same serving chain,
    * no recall apparatus — what the bare-serve bench siblings gate.
    */
  private val ivfPqOracleSuffixBare: String =
    ivfPqOracleMid + "\n" +
      "SELECT i, rk, j, cos FROM approx ORDER BY 1, 2"

  /** The PQ-serve router ([[Similarity.pqTopKServedAuto]], the r13
    * verdict's item 6): corpus-as-queries self-search over ns7e's own
    * served index, with the ADC candidate volume measured as
    * Σ probe-hits(cell)·|cell| and compared per-query
    * (cand·probes > budget·probe_rows). The oracle restates the
    * measurement and BOTH branches — the exact crk=1 candidate join
    * and the capped smallest-vec_id per-cell prefix — through the
    * SHARED prefix/suffix of ns7d/ns7e's oracle (the ns8i/ns7j/ns7k
    * house pattern). On the sf0.01 fixture the router goes HOT
    * (~1.17M measured candidates vs the 256/query budget), so the
    * CAPPED branch is the one hash-proven live, with
    * [[graft.ml.Corpus.cappedIdPrefix]]'s kept set gated against the
    * windowed restatement.
    */
  val ns7lSimIvfPqAuto: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivfpq_index")
    if (ivfIndexWritten.add(path)) {
      val cb = Similarity.fitPqCodebook(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
        nSub = 8, codesPerSub = 16, iters = 2)
      Similarity.writeIvfPqIndex(emb,
        Similarity.seedCentroids(emb, nCells = 16), cb, nSub = 8, path)
    }
    Similarity.withRecall(
      Similarity.pqTopKServedAuto(s, path, emb, emb, k = 5,
        refine = 50, probes = 3, cellCandidateCap = 1000L,
        budgetCandidatesPerQuery = 256L),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** The ns7l router candidate block (measurement + both branches),
    * shared by the recall-bearing gate and its bare bench sibling.
    */
  private val ns7lRouterCand: String =
    """), qcell AS (
      |  SELECT cell, count(*) AS qn FROM ranked GROUP BY 1
      |), icell AS (
      |  SELECT cell, count(*) AS cn FROM ranked WHERE crk = 1
      |  GROUP BY 1
      |), cond AS (
      |  SELECT coalesce(sum(qn::HUGEINT * coalesce(cn, 0)), 0) * 3 >
      |    256 * coalesce(sum(qn), 0) AS hot
      |  FROM qcell LEFT JOIN icell USING (cell)
      |), kept AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
      |      ORDER BY vec_id) AS cr
      |    FROM ranked WHERE crk = 1) WHERE cr <= 1000
      |), cand_exact AS (
      |  SELECT q.vec_id AS i, nq.nrm AS na, ix.vec_id AS j, e.rnrm
      |  FROM ranked q
      |  JOIN ranked ix ON q.cell = ix.cell AND ix.crk = 1
      |    AND q.vec_id <> ix.vec_id
      |  JOIN enc e ON e.vec_id = ix.vec_id
      |  JOIN nrms nq ON nq.vec_id = q.vec_id
      |  WHERE NOT (SELECT hot FROM cond)
      |), cand_capped AS (
      |  SELECT q.vec_id AS i, nq.nrm AS na, ix.vec_id AS j, e.rnrm
      |  FROM ranked q
      |  JOIN kept ix ON q.cell = ix.cell AND q.vec_id <> ix.vec_id
      |  JOIN enc e ON e.vec_id = ix.vec_id
      |  JOIN nrms nq ON nq.vec_id = q.vec_id
      |  WHERE (SELECT hot FROM cond)
      |), cand AS (
      |  SELECT * FROM cand_exact UNION ALL SELECT * FROM cand_capped
      |""".stripMargin.stripSuffix("\n")

  val ns7lSimIvfPqAutoSql: String =
    ivfPqOraclePrefix + "\n" + ns7lRouterCand + ivfPqOracleSuffix

  val ns7dSimIvfPqSql: String = ivfPqOraclePrefix + "\n" +
    """), cand AS (
      |  SELECT q.vec_id AS i, nq.nrm AS na, ix.vec_id AS j, e.rnrm
      |  FROM ranked q
      |  JOIN ranked ix ON q.cell = ix.cell AND ix.crk = 1
      |    AND q.vec_id <> ix.vec_id
      |  JOIN enc e ON e.vec_id = ix.vec_id
      |  JOIN nrms nq ON nq.vec_id = q.vec_id
      |""".stripMargin.stripSuffix("\n") + ivfPqOracleSuffix

  // ---------------- bare-serve bench siblings (r14 verdict item 4)
  //
  // The recall-bearing ANN gates carry an N²/5 brute reference by
  // construction, so their bench rows measure the gate APPARATUS, not
  // the operator — the driver could not see a serve regression. Each
  // sibling below is the SAME serve over the SAME persisted fixture
  // (identical build-once block, so entry order never matters), minus
  // withRecall, hash-gated on the bare restatement of its own oracle.
  // The recall-bearing originals are unchanged.

  /** [[ns7lSimIvfPqAuto]]'s bare serve: the routed PQ self-search
    * alone — what a production query actually costs.
    */
  val ns7lbPqServeBare: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivfpq_index")
    if (ivfIndexWritten.add(path)) {
      val cb = Similarity.fitPqCodebook(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
        nSub = 8, codesPerSub = 16, iters = 2)
      Similarity.writeIvfPqIndex(emb,
        Similarity.seedCentroids(emb, nCells = 16), cb, nSub = 8, path)
    }
    Similarity.pqTopKServedAuto(s, path, emb, emb, k = 5,
      refine = 50, probes = 3, cellCandidateCap = 1000L,
      budgetCandidatesPerQuery = 256L)
      .orderBy(col("i"), col("rk"))
  }

  val ns7lbPqServeBareSql: String =
    ivfPqOraclePrefix + "\n" + ns7lRouterCand + ivfPqOracleSuffixBare

  /** [[ns7hSimBinaryStreamed]]'s bare serve: base ∪ committed streamed
    * partitions through the vec_id-deduped union read, no recall.
    */
  val ns7hbBinaryServeBare: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bin_index_str")
    if (ivfIndexWritten.add(path)) {
      // identical to ns7h's block (shared path — the build-once rule)
      val sib = new org.apache.hadoop.fs.Path(
        path + Similarity.StreamSiblingSuffix)
      sib.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(sib, true)
      Similarity.writeBinaryIndex(emb.filter(col("vec_id") % 4 =!= 0),
        path, dim = 64)
      graft.streaming.VectorIngest.ingestBatchBinary(
        emb.filter(col("vec_id") % 8 === 0), 0L, path)
      graft.streaming.VectorIngest.ingestBatchBinary(
        emb.filter(col("vec_id") % 4 === 0 && col("vec_id") % 8 =!= 0),
        1L, path)
    }
    graft.streaming.VectorIngest.queryServedBinary(s, path, emb,
      emb.select(col("vec_id")), k = 5, refine = 100)
      .orderBy(col("i"), col("rk"))
  }

  val ns7hbBinaryServeBareSql: String =
    s"""WITH $duckNonZeroEmb,
      |sgn AS (
      |  SELECT vec_id, embedding, s, list_sum(s) AS pc FROM (
      |    SELECT vec_id, embedding,
      |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
      |        FOR x IN embedding::DOUBLE[]] AS s
      |    FROM nz)
      |), cand AS (
      |  SELECT i, j FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY (a.pc + b.pc - 2 * list_dot_product(a.s, b.s)),
      |          b.vec_id) AS hrk
      |    FROM sgn a JOIN sgn b ON a.vec_id <> b.vec_id) WHERE hrk <= 100
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand c JOIN nz a ON a.vec_id = c.i
      |    JOIN nz b ON b.vec_id = c.j) WHERE rk <= 5
      |)
      |SELECT i, rk, j, cos FROM approx ORDER BY 1, 2""".stripMargin

  /** [[ns8dSimIvfServed]]'s bare serve: the partition-pruned IVF read
    * path alone, no recall.
    */
  val ns8dbIvfServeBare: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index")
    if (ivfIndexWritten.add(path))
      Similarity.writeIvfIndex(emb, cents, path)
    Similarity.queryIvfIndex(s, path, emb, cents, k = 5, probes = 3)
      .orderBy(col("i"), col("rk"))
  }

  val ns8dbIvfServeBareSql: String =
    ivfMultiProbeSql(duckSeedCents16, recall = false)

  /** The raw-IVF-serve ROUTER ([[Similarity.queryIvfIndexAuto]] — r15
    * verdict item 1, closing the LAST serving tier without one):
    * ns8d's own serve with the candidate volume measured as
    * Σ probe-hits(cell)·|alive cell| and compared per-query
    * (cand·probes > budget·probe_rows). The oracle restates the
    * measurement and BOTH branches — the exact crk=1 candidate join
    * (ns8d's) and the capped smallest-vec_id per-cell prefix —
    * selected by the same scalar (the ns7l/ns8i/ns7j house pattern).
    * Budget 64/query: this fixture measures ~94 candidates/query
    * (sf0.1: ~376), so the router goes HOT and the CAPPED branch is
    * the one hash-proven live (the ns7k discipline); the exact branch
    * is MlSpec's half (under-budget ≡ queryIvfIndex bit-for-bit).
    */
  val ns8jIvfServedAuto: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index")
    if (ivfIndexWritten.add(path))
      Similarity.writeIvfIndex(emb, cents, path)
    Similarity.withRecall(
      Similarity.queryIvfIndexAuto(s, path, emb, cents, k = 5,
        probes = 3, cellCandidateCap = 50L,
        budgetCandidatesPerQuery = 64L),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** [[ns8jIvfServedAuto]]'s bare serve: the routed raw-IVF
    * self-search alone — the bench row that tracks the OPERATOR the
    * r15 verdict flagged (ns8d_b read exp 1.02 superlinear on the
    * clustered tier; this sibling's scale row shows the routed serve
    * flat there).
    */
  val ns8jbIvfServeAutoBare: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index")
    if (ivfIndexWritten.add(path))
      Similarity.writeIvfIndex(emb, cents, path)
    Similarity.queryIvfIndexAuto(s, path, emb, cents, k = 5,
      probes = 3, cellCandidateCap = 50L,
      budgetCandidatesPerQuery = 64L)
      .orderBy(col("i"), col("rk"))
  }

  /** ns8j's oracle: ns8c/ns8d's ranked-assignment restatement with the
    * router condition and both branches spliced in (budget 64, probes
    * 3, cap 50 — the entry's literals).
    */
  private def ns8jRouterSql(recall: Boolean): String = {
    val tail =
      if (recall)
        s"""${sampledRecallSql("nz")}
          |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
          |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
          |ORDER BY 1, 2""".stripMargin
      else
        """nothing AS (SELECT 1)
          |SELECT i, rk, j, cos FROM approx ORDER BY 1, 2""".stripMargin
    s"""WITH $duckNonZeroEmb,
      |$duckSeedCents16,
      |ranked AS (
      |  SELECT vec_id, cell, crk FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk <= 3
      |), qcell AS (
      |  SELECT cell, count(*) AS qn FROM ranked GROUP BY 1
      |), icell AS (
      |  SELECT cell, count(*) AS cn FROM ranked WHERE crk = 1
      |  GROUP BY 1
      |), cond AS (
      |  SELECT coalesce(sum(qn::HUGEINT * coalesce(cn, 0)), 0) * 3 >
      |    64 * coalesce(sum(qn), 0) AS hot
      |  FROM qcell LEFT JOIN icell USING (cell)
      |), kept AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
      |      ORDER BY vec_id) AS cr
      |    FROM ranked WHERE crk = 1) WHERE cr <= 50
      |), approx_exact AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT q.vec_id AS i, ix.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, ix.vec_id) AS rk
      |    FROM ranked q JOIN ranked ix
      |      ON q.cell = ix.cell AND ix.crk = 1 AND q.vec_id <> ix.vec_id
      |    JOIN nz a ON a.vec_id = q.vec_id
      |    JOIN nz b ON b.vec_id = ix.vec_id)
      |  WHERE rk <= 5 AND NOT (SELECT hot FROM cond)
      |), approx_capped AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT q.vec_id AS i, ix.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, ix.vec_id) AS rk
      |    FROM ranked q JOIN kept ix
      |      ON q.cell = ix.cell AND q.vec_id <> ix.vec_id
      |    JOIN nz a ON a.vec_id = q.vec_id
      |    JOIN nz b ON b.vec_id = ix.vec_id)
      |  WHERE rk <= 5 AND (SELECT hot FROM cond)
      |), approx AS (
      |  SELECT * FROM approx_exact UNION ALL SELECT * FROM approx_capped
      |),
      |$tail""".stripMargin
  }

  val ns8jIvfServedAutoSql: String = ns8jRouterSql(recall = true)
  val ns8jbIvfServeAutoBareSql: String = ns8jRouterSql(recall = false)

  /** IVF ANN — "approximate" only in the sense that cell pruning loses
    * recall vs brute force; given its DETERMINISTIC seed centroids the
    * result is a pure function of the data, so since r9 the entire
    * pipeline — argmax cell assignment, intra-cell top-k, and the
    * sampled recall column itself — is restated in DuckDB and
    * HASH-GATED (the ns44/ns45 graduation pattern), not rows-only.
    * The recall reference is SAMPLED (every 5th query vector) so the
    * gate itself is linear-shaped — the brute pass is the quadratic
    * part and sampling divides its cost by sampleMod; unsampled
    * vectors keep their ANN rows with a null recall, and a query
    * vector with zero in-cell neighbors still appears (null neighbor
    * columns) via the full join — survivorship bias is part of the
    * gated contract.
    */
  val ns8SimIvf: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.withRecall(
      Similarity.ivfTopK(emb, nCells = 16, k = 5),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns8SimIvfSql: String =
    s"""WITH $duckNonZeroEmb,
      |$duckSeedCents16,
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk = 1
      |), approx AS (
      |  SELECT i, cell, rk, j, cos FROM (
      |    SELECT xa.vec_id AS i, xa.cell, xb.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY xa.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, xb.vec_id) AS rk
      |    FROM assign xa JOIN assign xb
      |      ON xa.cell = xb.cell AND xa.vec_id <> xb.vec_id
      |    JOIN nz a ON a.vec_id = xa.vec_id
      |    JOIN nz b ON b.vec_id = xb.vec_id) WHERE rk <= 5
      |),
      |$duckSampledRecall
      |SELECT coalesce(ap.i, r.i) AS i, ap.cell, ap.rk, ap.j, ap.cos,
      |  r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 3""".stripMargin

  /** The IVF self-search ROUTER as the gated default
    * ([[Similarity.ivfTopKAuto]], budget 256 candidates/query, cap
    * 50): the clustered-embedding corpus measured the EXACT
    * intra-cell serve at exp 1.31 (Σ occ·(occ−1) goes quadratic once
    * one cell dominates — the ns44 floor on the search side), so the
    * same one-aggregate measurement that routes SemDeDup routes the
    * serve: exact under budget (this fixture: ~15.5k candidates vs a
    * 256·500 budget → exact, output equals ns8's), candidate-side
    * cap past it (≤ cap·N candidates, structurally linear, with the
    * stated id-order-prefix recall contract within hot cells — the
    * honest budget backstop; the upstream cure for such a corpus is
    * ns44c's dedup, and the quality knobs stay fitted centroids +
    * multi-probe). The oracle restates the volume test and both
    * branches, so the routing decision is hash-proven.
    */
  val ns8iSimIvfAuto: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.withRecall(
      Similarity.ivfTopKAuto(emb, nCells = 16, k = 5,
        cellCandidateCap = 50L, budgetCandidatesPerQuery = 256L),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns8iSimIvfAutoSql: String =
    s"""WITH $duckNonZeroEmb,
      |$duckSeedCents16,
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk = 1
      |), cellc AS (
      |  SELECT cell, count(*) AS c FROM assign GROUP BY 1
      |), cond AS (
      |  SELECT coalesce(sum(c * (c - 1)), 0) >
      |    256 * coalesce(sum(c), 0) AS hot
      |  FROM cellc
      |), bcap AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY cell
      |        ORDER BY vec_id) AS cr
      |    FROM assign) WHERE cr <= 50
      |), approx_exact AS (
      |  SELECT i, cell, rk, j, cos FROM (
      |    SELECT xa.vec_id AS i, xa.cell, xb.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY xa.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, xb.vec_id) AS rk
      |    FROM assign xa JOIN assign xb
      |      ON xa.cell = xb.cell AND xa.vec_id <> xb.vec_id
      |    JOIN nz a ON a.vec_id = xa.vec_id
      |    JOIN nz b ON b.vec_id = xb.vec_id)
      |  WHERE rk <= 5 AND NOT (SELECT hot FROM cond)
      |), approx_capped AS (
      |  SELECT i, cell, rk, j, cos FROM (
      |    SELECT xa.vec_id AS i, xa.cell, xb.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY xa.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, xb.vec_id) AS rk
      |    FROM assign xa JOIN bcap xb
      |      ON xa.cell = xb.cell AND xa.vec_id <> xb.vec_id
      |    JOIN nz a ON a.vec_id = xa.vec_id
      |    JOIN nz b ON b.vec_id = xb.vec_id)
      |  WHERE rk <= 5 AND (SELECT hot FROM cond)
      |), approx AS (
      |  SELECT * FROM approx_exact UNION ALL SELECT * FROM approx_capped
      |),
      |$duckSampledRecall
      |SELECT coalesce(ap.i, r.i) AS i, ap.cell, ap.rk, ap.j, ap.cos,
      |  r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 3""".stripMargin

  /** IVF over spherical-k-means-fitted centroids (3 Lloyd rounds from
    * the deterministic seed) — the quality path; improvement-vs-seed
    * asserted in MlSpec (full-corpus Lloyd monotonicity, plus a
    * sampled-fit-beats-seed gate mirroring this exact configuration).
    * The fit runs on a HASH-SAMPLED quarter of the
    * corpus — the documented 100 TB shape (centroids are a model
    * fitted offline on a slice, then broadcast to assign the full
    * corpus), here exercised for real rather than only described.
    * Recall uses the SAMPLED reference (every 5th query vector) — the
    * corpus-scale recall-measurement shape, where the exact pass is
    * the quadratic part and sampling divides its cost (ns8/ns15 keep
    * the full reference as the small-scale gate).
    */
  val ns8bSimIvfKmeans: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    // xxhash64, not pmod(vec_id, 4): sequential ids make a modulo a
    // systematic every-4th stride, biased wherever id order correlates
    // with content; hashing first decorrelates the sample. The fit
    // lives INSIDE withRecall's by-name approx block so its Lloyd
    // rounds overlap the brute reference pass (guide §2.6).
    Similarity.withRecall(
      Similarity.ivfTopKWithCentroids(emb,
        Similarity.fitCentroids(
          emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
          nCells = 16, iters = 3), k = 5),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** ns8b's oracle — the r9 graduation (verdict item 4): the FIT
    * cannot restate in DuckDB (xxhash64 sampling + Lloyd iterations),
    * but it is deterministic (6 dp rounding per iteration), so the
    * fitted centroids are PINNED as literals
    * ([[FittedModels.ivfCentsValues]]) and everything downstream —
    * assignment, per-cell top-k, sampled recall — is ns8's own gated
    * SQL over those literals. A fit change now FAILS the gate loudly
    * instead of hiding behind a rows-only check.
    */
  val ns8bSimIvfKmeansSql: String = {
    val fittedCents =
      s"""cents AS (
         |  SELECT cell::BIGINT AS cell, ce FROM (VALUES
         |${FittedModels.ivfCentsValues}) t(cell, ce)
         |)""".stripMargin
    ns8SimIvfSql.replace(duckSeedCents16, fittedCents)
  }

  /** Multi-probe IVF — each query vector probes its 3 nearest cells
    * (index side stays single-cell), recovering the recall single-probe
    * ns8 loses at cell boundaries at the cost of ~3× the candidate
    * pairs. Same seed centroids and nCells as ns8, so the two results
    * isolate the probing effect; MlSpec asserts multi-probe recall is
    * strictly above single-probe on the fixtures.
    */
  val ns8cSimIvfMultiProbe: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.withRecall(
      Similarity.ivfTopKMultiProbe(emb,
        Similarity.seedCentroids(emb, nCells = 16), k = 5, probes = 3),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** ns8c hash gate (r9 graduation): one RANKED assignment CTE serves
    * both sides — the query side probes its crk ≤ 3 cells, the index
    * side is the crk = 1 slice — then the same top-k cut and recall
    * restatement as ns8. A neighbor lives in exactly one index cell,
    * so the probe join yields each (query, neighbor) pair at most
    * once, mirroring the operator's no-dedup-needed argument.
    * Parameterized on the centroid CTE and the corpus CTE because the
    * same restatement gates four entries: ns8c (seed centroids over
    * the full corpus), ns8d (the SERVED index — assignment is a pure
    * function of the persisted centroids, so the served result must
    * equal ns8c's), ns8e (the appended index, whose centroids were
    * seeded from the INITIAL 3/4 corpus slice before the append), and
    * ns8f (the tombstoned index: centroids stay the FULL-corpus seed
    * set — deletion never rewrites the assignment function — while
    * index, queries, and brute reference range over the `alive`
    * survivors, i.e. exactly a rebuild without the deleted vectors).
    */
  private def ivfMultiProbeSql(centsCte: String, corpus: String = "nz",
      pre: String = "", queryPred: String = "TRUE",
      recall: Boolean = true): String = {
    val tail =
      if (recall)
        s"""${sampledRecallSql(corpus)}
          |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
          |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
          |ORDER BY 1, 2""".stripMargin
      else
        """nothing AS (SELECT 1)
          |SELECT i, rk, j, cos FROM approx ORDER BY 1, 2""".stripMargin
    s"""WITH $duckNonZeroEmb,$pre
      |$centsCte,
      |ranked AS (
      |  SELECT vec_id, cell, crk FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM $corpus v CROSS JOIN cents c) WHERE crk <= 3
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT q.vec_id AS i, ix.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, ix.vec_id) AS rk
      |    FROM ranked q JOIN ranked ix
      |      ON q.cell = ix.cell AND ix.crk = 1 AND q.vec_id <> ix.vec_id
      |    JOIN $corpus a ON a.vec_id = q.vec_id
      |    JOIN $corpus b ON b.vec_id = ix.vec_id
      |    WHERE $queryPred) WHERE rk <= 5
      |),
      |$tail""".stripMargin
  }

  val ns8cSimIvfMultiProbeSql: String = ivfMultiProbeSql(duckSeedCents16)

  val ns8fSimIvfDeletedSql: String = ivfMultiProbeSql(
    duckSeedCents16, corpus = "alive",
    pre = """
      |alive AS (
      |  SELECT * FROM nz WHERE vec_id % 7 <> 0
      |),""".stripMargin)

  /** ns8e's centroids: [[Similarity.seedCentroids]] over the initial
    * (vec_id % 4 ≠ 0) build slice — the 16 smallest surviving ids
    * there, which differ from the full-corpus seed set.
    */
  val ns8eSimIvfAppendedSql: String = ivfMultiProbeSql(
    """cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  WHERE vec_id % 4 <> 0
      |  ORDER BY vec_id LIMIT 16
      |)""".stripMargin)

  private val ivfIndexWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The SERVED form of ns8c: the IVF index persisted once as a
    * cell-partitioned parquet table (idempotent per (sf, session) like
    * q63's z-table), then queried through the partition-pruned read
    * path — proving index persistence + probe pruning end-to-end
    * through the driver gate. Same seed centroids/k/probes as ns8c,
    * so any divergence between the in-memory and served paths fails
    * the rows gate; MlSpec hash-equates them and measures the pruning.
    */
  val ns8dSimIvfServed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index")
    if (ivfIndexWritten.add(path))
      Similarity.writeIvfIndex(emb, cents, path)
    Similarity.withRecall(
      Similarity.queryIvfIndex(s, path, emb, cents, k = 5, probes = 3),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** Incremental maintenance of the served index: build on 3/4 of the
    * corpus, [[Similarity.appendIvfIndex]] the remaining quarter
    * against the STORED centroids (no refit, untouched cells keep
    * their files — MlSpec measures that), then serve the union. The
    * recall column gates that the appended index serves the full
    * corpus as well as a from-scratch build — which MlSpec proves is
    * bit-identical, since assignment is a pure function of the
    * persisted centroids.
    */
  val ns8eSimIvfAppended: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val initial = emb.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index_inc")
    if (ivfIndexWritten.add(path)) {
      Similarity.writeIvfIndex(initial, cents, path)
      Similarity.appendIvfIndex(s, emb.filter(col("vec_id") % 4 === 0),
        path)
    }
    Similarity.withRecall(
      Similarity.queryIvfIndex(s, path, emb, cents, k = 5, probes = 3),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** Tombstone deletion on the served IVF index
    * ([[Similarity.deleteFromIvfIndex]]): build on the FULL corpus,
    * soft-delete every 7th vector, then serve the survivors' queries.
    * The centroids stay the full-corpus seed set (deletion never
    * rewrites the assignment function — the index files are
    * spec-pinned byte-identical), so the oracle is the multi-probe
    * restatement with full-seed centroids over the `alive` corpus:
    * hash-equality proves the tombstoned index answers EXACTLY like a
    * from-scratch build without the deleted vectors, recall column
    * included. The takedown story a 100 TB standing index needs —
    * one id-sized tombstone append, zero partitions rewritten.
    */
  val ns8fSimIvfDeleted: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index_del")
    if (ivfIndexWritten.add(path)) {
      Similarity.writeIvfIndex(emb, cents, path)
      Similarity.deleteFromIvfIndex(s,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), path)
    }
    val alive = emb.filter(col("vec_id") % 7 =!= 0)
    Similarity.withRecall(
      Similarity.queryIvfIndex(s, path, alive, cents, k = 5, probes = 3),
      Similarity.bruteTopK(alive, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** ns8f's debt-reclaim step ([[Similarity.compactIvfIndex]]): same
    * build + delete, then COMPACT — dirty cells physically rewritten,
    * tombstone table dropped — and serve. Gated on ns8f's exact
    * oracle: hash-equality proves compaction is invisible to queries
    * (delete-then-compact-then-serve == rebuild-without-deleted),
    * while MlSpec pins the physical claims (clean cells byte-
    * identical, emptied cell dirs gone, tombstones gone, cost =
    * dirty-cell count).
    */
  val ns8gSimIvfCompacted: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index_cmp")
    if (ivfIndexWritten.add(path)) {
      Similarity.writeIvfIndex(emb, cents, path)
      Similarity.deleteFromIvfIndex(s,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), path)
      Similarity.compactIvfIndex(s, path)
    }
    val alive = emb.filter(col("vec_id") % 7 =!= 0)
    Similarity.withRecall(
      Similarity.queryIvfIndex(s, path, alive, cents, k = 5, probes = 3),
      Similarity.bruteTopK(alive, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  /** The full streamed-index lifecycle in one entry
    * ([[graft.ml.Similarity.foldStreamIntoIvfIndex]]): build on 3/4,
    * STREAM the remaining quarter in as two committed micro-batches
    * (VectorIngest.ingestBatch — including vectors a tombstone then
    * masks), soft-delete every 7th vector, FOLD the stream into the
    * base (batches drain to replay-ledger stubs), then COMPACT — now
    * permitted, where before the fold it refused — and serve. Gated
    * on the ns8e centroids + alive-corpus oracle: hash-equality
    * proves stream→fold→compact→serve answers exactly like a
    * from-scratch build of the surviving corpus, i.e. a standing
    * index never needs a rebuild to become compactable. MlSpec pins
    * the physical claims (stub markers, replay absorption, crash
    * windows).
    */
  val ns8hSimIvfFolded: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val initial = emb.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "ivf_index_fld")
    if (ivfIndexWritten.add(path)) {
      Similarity.writeIvfIndex(initial, cents, path)
      graft.streaming.VectorIngest.ingestBatch(
        emb.filter(col("vec_id") % 8 === 0), 0L, path)
      graft.streaming.VectorIngest.ingestBatch(
        emb.filter(col("vec_id") % 8 === 4), 1L, path)
      Similarity.deleteFromIvfIndex(s,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), path)
      Similarity.foldStreamIntoIvfIndex(s, path)
      Similarity.compactIvfIndex(s, path)
    }
    val alive = emb.filter(col("vec_id") % 7 =!= 0)
    Similarity.withRecall(
      Similarity.queryIvfIndex(s, path, alive, cents, k = 5, probes = 3),
      Similarity.bruteTopK(alive, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns8hSimIvfFoldedSql: String = ivfMultiProbeSql(
    """cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  WHERE vec_id % 4 <> 0
      |  ORDER BY vec_id LIMIT 16
      |)""".stripMargin,
    corpus = "alive",
    pre = """
      |alive AS (
      |  SELECT * FROM nz WHERE vec_id % 7 <> 0
      |),""".stripMargin)

  /** Random-hyperplane LSH ANN — "random" but fixed-seed, so since r9
    * it is HASH-GATED like ns6b: the plane literals band identically
    * on both engines, the collision join + top-k cut restate
    * declaratively, and the sampled recall column is itself
    * hash-proven (sampledRecallSql). Recall floor stays in MlSpec.
    */
  val ns15LshAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.withRecall(
      Similarity.lshTopK(emb, nBands = 4, bitsPerBand = 6, k = 5, dim = 64),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
      .orderBy(col("i"), col("rk"))
  }

  val ns15LshAnnSql: String =
    s"""WITH $duckNonZeroEmb,
      |${lshBandedSql(nBands = 4, bitsPerBand = 6, dim = 64)},
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.vec_id <> b.vec_id
      |), approx AS (
      |  SELECT i, rk, j, cos FROM (
      |    SELECT c.i, c.j,
      |      round(list_cosine_similarity(x.embedding::DOUBLE[],
      |        y.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY c.i
      |        ORDER BY round(list_cosine_similarity(x.embedding::DOUBLE[],
      |          y.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
      |    FROM cand c JOIN nz x ON x.vec_id = c.i
      |    JOIN nz y ON y.vec_id = c.j) WHERE rk <= 5
      |),
      |${sampledRecallSql("nz")}
      |SELECT coalesce(ap.i, r.i) AS i, ap.rk, ap.j, ap.cos, r.recall
      |FROM approx ap FULL JOIN recalls r ON ap.i = r.i
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------ text analysis

  val ns9LangId: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  /** DuckDB rendering of TextAnalysis.langId as a scalar CASE over a
    * `text` column — shared by ns9 and the ns22 pipeline filter.
    */
  private def duckLangCase: String = {
    val codes = TextAnalysis.stopwords.keys.toSeq.sorted
    // mirrors TextAnalysis.langScore: token hits for space-delimited
    // languages, stopword-CHARACTER occurrence counts for zh
    def score(code: String): String =
      if (code == "zh")
        TextAnalysis.stopwords("zh")
          .map(ch => s"(length(text) - length(replace(text, '$ch', '')))")
          .mkString("(", " + ", ")")
      else {
        val set = TextAnalysis.stopwords(code)
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), w -> list_contains($set, w)))"
      }
    val mx = codes.map(score).mkString("greatest(", ", ", ")")
    val cases = codes.map(c =>
      s"WHEN ${score(c)} = $mx THEN '$c'").mkString("\n  ")
    s"""CASE WHEN $mx = 0 THEN 'und'
       |  $cases
       |  ELSE 'und' END""".stripMargin
  }

  val ns9LangIdSql: String =
    s"""SELECT doc_id, $duckLangCase AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  val ns10Quality: Q = (s, dir) =>
    TextAnalysis.qualityMetrics(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val ns10QualitySql: String = {
    val en = TextAnalysis.stopwords("en").map(w => s"'$w'")
      .mkString("[", ", ", "]")
    s"""SELECT doc_id, n_chars_calc, n_words, avg_word_len, punct_ratio,
       |  stopword_ratio,
       |  round(((least(n_words::DOUBLE / 100.0, 1.0::DOUBLE)
       |    + CASE WHEN punct_ratio IS NOT NULL THEN
       |        1.0::DOUBLE - least(punct_ratio * 4.0::DOUBLE, 1.0::DOUBLE) END
       |    + least(stopword_ratio * 3.0::DOUBLE, 1.0::DOUBLE)) / 3.0::DOUBLE)
       |    + 1e-9, 4) AS quality_score
       |FROM (
       |  SELECT doc_id, length(text) AS n_chars_calc,
       |    len(string_split(text, ' ')) AS n_words,
       |    round(list_sum([len(x) FOR x IN string_split(text, ' ')])::DOUBLE
       |      / len(string_split(text, ' ')), 4) AS avg_word_len,
       |    CASE WHEN length(text) > 0 THEN
       |      round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
       |        / length(text), 4) END AS punct_ratio,
       |    round(len(list_filter(string_split(text, ' '), w -> list_contains($en, w)))::DOUBLE
       |      / len(string_split(text, ' ')), 4) AS stopword_ratio
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  val ns11Tokens: Q = (s, dir) =>
    TextAnalysis.tokenCounts(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val ns11TokensSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  val ns12Fingerprint: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
      .orderBy(col("doc_id"))

  val ns12FingerprintSql: String = {
    val h = duckHash60("b")
    s"""SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
       |  list_reduce(list_prepend(0::BIGINT,
       |    [$h FOR b IN string_split(text, ' ')]),
       |    (a, b) -> (a * 31 + b) % 1099511627776) AS rolling_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Deterministic split + stratified sample, summarized to counts so
    * the result is order-insensitive.
    */
  val ns17SampleSplit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val assigned = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.splitAssign(col("doc_id")).as("split"))
    val sampled = TextAnalysis.stratifiedSample(docs, "lang", 50)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("first_kept"))
    assigned.groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .join(sampled, Seq("lang"))
      .orderBy(col("lang"), col("split"))
  }

  val ns17SampleSplitSql: String = {
    val h = duckHash60("doc_id::VARCHAR")
    s"""WITH assigned AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN $h % 100 < 90 THEN 'train'
       |      WHEN $h % 100 < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM documents
       |), sampled AS (
       |  SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_kept
       |  FROM (SELECT lang, doc_id,
       |      row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rk
       |    FROM documents)
       |  WHERE rk <= 50 GROUP BY lang
       |)
       |SELECT a.lang, a.split, count(*) AS n, s.n_sampled, s.first_kept
       |FROM assigned a JOIN sampled s ON a.lang = s.lang
       |GROUP BY a.lang, a.split, s.n_sampled, s.first_kept
       |ORDER BY a.lang, a.split""".stripMargin
  }

  /** TF-IDF with top-3 terms per document — the classic sparse
    * document representation: token explode → per-(doc,term) tf →
    * per-term df → idf join → windowed top-k. Ranking is on the
    * ROUNDED score with a term tiebreak so both engines rank
    * identically.
    */
  val ns18Tfidf: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // corpus size as a broadcast 1-row aggregate inside the plan — an
    // eager docs.count() here would run a separate full scan per call
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df derives from tf's AGGREGATE output (one row per distinct
    // (doc, term)), not from a second pass over `tok`: tf and a
    // tok-based countDistinct shuffle on different keys, so Catalyst
    // cannot reuse the exchange and the whole tokenize+explode scan
    // would run twice — the same double-scan hazard jaccardPairs and
    // contamination engineer around.
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val ns18TfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
      |), n AS (SELECT count(*) AS n FROM documents
      |), scored AS (
      |  SELECT doc_id, term,
      |    round(tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (term), n
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS rk FROM scored
      |)
      |SELECT doc_id, rk, term, tfidf FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** PII redaction — the scrub pass every training corpus needs.
    * Synthetic contact info is appended per doc (the corpus itself is
    * clean), then removed by RE2-and-Java-compatible patterns; output
    * is the redacted-text digest + per-kind match counts.
    */
  val ns19Redact: Q = (s, dir) => {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val withPii = concat(col("text"), lit(" contact: user"), col("doc_id"),
      lit("@example.com or 555-123-4567"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(withPii, lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(withPii, lit(phonePat), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(withPii, emailPat, "[EMAIL]"),
          phonePat, "[PHONE]").cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val ns19RedactSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text || ' contact: user' || doc_id || '@example.com or 555-123-4567',
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(text || ' contact: user' || doc_id || '@example.com or 555-123-4567',
      |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(
      |    text || ' contact: user' || doc_id || '@example.com or 555-123-4567',
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition detection (C4-style quality gate): the distinct-to-
    * total 3-gram ratio; template/boilerplate text repeats shingles
    * and scores low. Counts come from the native one-pass
    * `graft_shingle_stats` kernel — the HOF shingle pipeline this
    * replaced was re-splitting the text per shingle index inside
    * non-codegen lambdas and re-ran in full for every consumer
    * (97.6 s for 5k docs at sf0.1; r7 verdict item 2).
    */
  val ns20Repetition: Q = (s, dir) => {
    val st = graft.functions.ShingleStats(col("text"), 3)
    Tables.documents(s, dir)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_grams").as("n_grams"),
        col("st.n_distinct").as("n_distinct"),
        when(col("st.n_grams") > 0,
          round(col("st.n_distinct").cast("double") / col("st.n_grams"),
            6)).as("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  val ns20RepetitionSql: String =
    """SELECT doc_id,
      |  greatest(len(string_split(text, ' ')) - 2, 0) AS n_grams,
      |  len(list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)])) AS n_distinct,
      |  CASE WHEN len(w) - 2 > 0 THEN
      |    round(len(list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]))::DOUBLE
      |      / (len(w) - 2), 6) END AS distinct_ratio
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- multimodal

  val ns13MultimodalDecode: Q = (s, dir) =>
    Multimodal.decodeFeatures(
      Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("sig"), col("width"), col("height"), col("decoded"))
      .orderBy(col("media_id"))

  /** Oracle mirrors the STUB (fallback) decode path: the fixture
    * payloads are text bytes, which never magic-match an image format,
    * so decoded is uniformly false and dims are the byte-derived
    * stand-ins. Real-image decoding (decoded=true, true pixel dims)
    * is byte-exact-tested in MlSpec against an in-memory-encoded PNG —
    * ANSI SQL cannot decode images.
    */
  val ns13MultimodalDecodeSql: String =
    """SELECT doc_id AS media_id,
      |  ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  substr(md5(text), 1, 8) AS sig,
      |  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
      |  CAST(octet_length(encode(text)) % 480 AS INT) AS height,
      |  false AS decoded
      |FROM documents ORDER BY media_id""".stripMargin

  val ns14FrameSample: Q = (s, dir) =>
    Multimodal.sampleFrames(
      Multimodal.mediaTable(Tables.documents(s, dir)), step = 100)
      .orderBy(col("media_id"), col("frame_offset"))

  /** Multimodal perceptual hashing ([[Multimodal.perceptualHash]]):
    * 60-bit aHash + dHash per media payload — the dedup signature the
    * image tier was missing while text had four. The fixture payloads
    * all take the byte-fallback path, whose kernel (integer cell
    * boundaries, cross-multiplied mean compares, NO division
    * anywhere) restates exactly in SQL — so unlike the ns13 plan this
    * entry is HASH-gated end to end; the real-pixel path (6×10 luma
    * grid over an ImageIO decode) is byte-exact spec-gated in MlSpec,
    * the ns13/ns21 stub discipline.
    */
  val ns66Phash: Q = (s, dir) =>
    Multimodal.perceptualHash(
      Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("ahash"), col("dhash"), col("decoded"))
      .orderBy(col("media_id"))

  /** The shared aHash CTE chain: byte values → 60 exact-boundary cell
    * (sum, count) pairs → global totals → cross-multiplied mean bits.
    * `sig` ends with (doc_id, simhash) so the simhash banding SQL
    * applies verbatim downstream (ns66b).
    */
  private val duckAHashSig: String =
    """v AS (
      |  SELECT doc_id, octet_length(encode(text))::BIGINT AS n,
      |    [(strpos('123456789ABCDEF', substr(hx, 2*i - 1, 1)) * 16 +
      |      strpos('123456789ABCDEF', substr(hx, 2*i, 1)))::BIGINT
      |     FOR i IN range(1, octet_length(encode(text)) + 1)] AS bv
      |  FROM (SELECT doc_id, text, hex(encode(text)) AS hx
      |        FROM documents)
      |), a60 AS (
      |  SELECT doc_id, c,
      |    coalesce(list_sum(bv[(c*n)//60 + 1 : ((c+1)*n)//60]), 0)::BIGINT
      |      AS s,
      |    ((c+1)*n)//60 - (c*n)//60 AS cnt
      |  FROM v, range(0, 60) t(c)
      |), atot AS (
      |  SELECT doc_id, sum(s)::BIGINT AS tot, sum(cnt)::BIGINT AS nn
      |  FROM a60 GROUP BY 1
      |), sig AS (
      |  SELECT a.doc_id,
      |    sum(CASE WHEN a.s * t.nn > t.tot * a.cnt
      |        THEN (1::BIGINT << a.c) ELSE 0 END)::BIGINT AS simhash
      |  FROM a60 a JOIN atot t USING (doc_id) GROUP BY 1
      |)""".stripMargin

  val ns66PhashSql: String =
    s"""WITH $duckAHashSig, d61 AS (
      |  SELECT doc_id, c,
      |    coalesce(list_sum(bv[(c*n)//61 + 1 : ((c+1)*n)//61]), 0)::BIGINT
      |      AS s,
      |    ((c+1)*n)//61 - (c*n)//61 AS cnt
      |  FROM v, range(0, 61) t(c)
      |), dh AS (
      |  SELECT x.doc_id,
      |    sum(CASE WHEN x.s * y.cnt < y.s * x.cnt
      |        THEN (1::BIGINT << x.c) ELSE 0 END)::BIGINT AS dhash
      |  FROM d61 x JOIN d61 y ON x.doc_id = y.doc_id AND y.c = x.c + 1
      |  GROUP BY 1
      |)
      |SELECT s.doc_id AS media_id,
      |  ['image', 'audio', 'video'][(s.doc_id % 3) + 1] AS media_type,
      |  octet_length(encode(d.text)) AS n_bytes,
      |  s.simhash AS ahash, dh.dhash, false AS decoded
      |FROM sig s JOIN dh USING (doc_id) JOIN documents d USING (doc_id)
      |ORDER BY media_id""".stripMargin

  /** Multimodal near-dup pairs: the STORED perceptual hashes banded
    * with the existing simhash machinery
    * ([[Dedup.simhashPairsCapped]] — the 60-bit width was chosen for
    * exactly this reuse): Hamming ≤ 12 aHash pairs via 13 uneven
    * bands (exact pigeonhole) with the 100-occupancy cap. On the
    * fixtures the banding finds all 14 exact pairs (max bucket 81,
    * nothing capped — ns5c exercises the cap; this entry gates the
    * banding-over-phash composition). The byte-stream aHash is
    * shift-sensitive by design (it is an IMAGE signature — pixel
    * near-dups stay aligned; text near-dups shift), hence the wider
    * threshold than simhash's 6.
    */
  val ns66bPhashPairs: Q = (s, dir) => {
    val hashes = Multimodal.perceptualHash(
        Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id").as("doc_id"), col("ahash").as("simhash"))
    Dedup.simhashPairsCapped(hashes, maxHamming = 12,
      bandOccupancyCap = 100)
      .orderBy(col("i"), col("j"))
  }

  val ns66bPhashPairsSql: String = {
    s"""WITH $duckAHashSig, ${duckSimhashBandedSql(13)},
      |kept AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY band, band_bits) AS bsz
      |    FROM banded) WHERE bsz <= 100
      |)
      |SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
      |  bit_count(xor(a.simhash, b.simhash)) AS hamming
      |FROM kept a JOIN kept b ON a.band = b.band
      |  AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
      |ORDER BY i, j""".stripMargin
  }

  /** Incremental multimodal near-dup (the r11 verdict's item 5):
    * a new media batch (media_id % 3 == 0) flagged with its closest
    * perceptual near-duplicate in the existing corpus (the rest) —
    * the ns34 increment discipline riding the SAME banding machinery
    * over aHashes ([[Dedup.simhashIncrementFromSigs]], 13 bands,
    * occupancy cap 100 over the union — the cap cannot bind on this
    * fixture, max bucket 81, so the naive best-pair restatement
    * gates exactly; 7 cross-split pairs exist, non-vacuous). At
    * 100 TB the batch pairs only new×old: banded buckets bound the
    * join and the corpus side would read from stored hashes, never
    * re-decoding media.
    */
  val ns66cPhashIncrement: Q = (s, dir) => {
    val hashes = Multimodal.perceptualHash(
        Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id").as("doc_id"), col("ahash").as("simhash"))
    Dedup.simhashIncrementFromSigs(
      newSigs = hashes.filter(col("doc_id") % 3 === 0),
      corpusSigs = hashes.filter(col("doc_id") % 3 =!= 0),
      maxHamming = 12, bands = 13, bandOccupancyCap = 100)
      .orderBy(col("doc_id"))
  }

  /** The phash tier's STREAMED ingest (the r12 verdict's item 5 —
    * text, vectors, BM25 and substr indexes all had streaming
    * maintenance; perceptual hashes had only the batch increment):
    * build the signature index on a third of the media
    * (media_id % 3 == 1), land another third (% 3 == 2) as two
    * committed `ingest_batch=` partitions hashed with the SAME
    * kernel ([[graft.streaming.MediaIngest]], BatchCommit replay
    * discipline), then flag the final third against base ∪ streamed
    * read from STORED hashes. Gated on ns66c's own oracle: the
    * served corpus is exactly ns66c's (% 3 ≠ 0), and hash rows are a
    * pure per-row payload function, so the streamed index must
    * answer BIT-identically to the from-scratch pass —
    * hash-equality proves it. MediaIngestSpec covers the lifecycle
    * edges (replay absorption, recycled-id refusal, uncommitted
    * batches invisible, union-serve == from-scratch).
    */
  val ns66dPhashStreamed: Q = (s, dir) => {
    val media = Multimodal.mediaTable(Tables.documents(s, dir))
    val path = RelationalQueries.zOrderedTablePath(s, dir, "phash_index_str")
    if (ivfIndexWritten.add(path)) {
      // the entry owns its fixture and reconstructs it from scratch —
      // a previous session's stream sibling holds data by design, so
      // take the rebuild refusal's explicit-delete path (ns7h pattern)
      val sib = new org.apache.hadoop.fs.Path(
        path + Similarity.StreamSiblingSuffix)
      sib.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(sib, true)
      Multimodal.writePhashIndex(
        media.filter(col("media_id") % 3 === 1), path)
      graft.streaming.MediaIngest.ingestBatch(
        media.filter(col("media_id") % 3 === 2 &&
          col("media_id") % 2 === 0), 0L, path)
      graft.streaming.MediaIngest.ingestBatch(
        media.filter(col("media_id") % 3 === 2 &&
          col("media_id") % 2 =!= 0), 1L, path)
    }
    graft.streaming.MediaIngest.phashIncrementServed(s, path,
      media.filter(col("media_id") % 3 === 0), maxHamming = 12,
      bands = 13, bandOccupancyCap = 100)
      .orderBy(col("doc_id"))
  }

  /** The phash tier's takedown lifecycle (the r12 verdict's optional
    * item 7 — the last standing index without one): build the
    * signature store on the ns66c corpus (% 3 ≠ 0), soft-delete
    * every 7th media id ([[Multimodal.deleteFromPhashIndex]] —
    * id-sized tombstone append, data files untouched), COMPACT
    * ([[Multimodal.compactPhashIndex]] — the shared flat-table
    * staged uuid-file-swap), then flag the new batch against the
    * SURVIVORS served from stored hashes. Gated on the ns66c oracle
    * restated over the survivor corpus predicate
    * (% 3 ≠ 0 AND % 7 ≠ 0): hash-equality proves
    * delete-then-compact-then-serve answers exactly like a
    * from-scratch hash pass without the deleted media — the
    * ns7g/ns8g discipline. MediaIngestSpec covers the byte-identical
    * tombstone append, reclaim, converging re-run and the
    * fold/compaction refusal edges.
    */
  val ns66ePhashCompacted: Q = (s, dir) => {
    val media = Multimodal.mediaTable(Tables.documents(s, dir))
    val path = RelationalQueries.zOrderedTablePath(s, dir, "phash_index_cmp")
    if (ivfIndexWritten.add(path)) {
      Multimodal.writePhashIndex(
        media.filter(col("media_id") % 3 =!= 0), path)
      Multimodal.deleteFromPhashIndex(s,
        media.filter(col("media_id") % 3 =!= 0 &&
          col("media_id") % 7 === 0).select(col("media_id")), path)
      Multimodal.compactPhashIndex(s, path)
    }
    graft.streaming.MediaIngest.phashIncrementServed(s, path,
      media.filter(col("media_id") % 3 === 0), maxHamming = 12,
      bands = 13, bandOccupancyCap = 100)
      .orderBy(col("doc_id"))
  }

  val ns66ePhashCompactedSql: String =
    s"""WITH $duckAHashSig, pairs AS (
      |  SELECT n.doc_id, o.doc_id AS dup_of,
      |    bit_count(xor(n.simhash, o.simhash)) AS hamming
      |  FROM sig n JOIN sig o
      |    ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
      |    AND o.doc_id % 7 <> 0
      |  WHERE bit_count(xor(n.simhash, o.simhash)) <= 12
      |), best AS (
      |  SELECT doc_id, dup_of, hamming,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hamming, dup_of) AS rk
      |  FROM pairs
      |)
      |SELECT doc_id, dup_of, hamming FROM best WHERE rk = 1
      |ORDER BY doc_id""".stripMargin

  val ns66cPhashIncrementSql: String =
    s"""WITH $duckAHashSig, pairs AS (
      |  SELECT n.doc_id, o.doc_id AS dup_of,
      |    bit_count(xor(n.simhash, o.simhash)) AS hamming
      |  FROM sig n JOIN sig o
      |    ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
      |  WHERE bit_count(xor(n.simhash, o.simhash)) <= 12
      |), best AS (
      |  SELECT doc_id, dup_of, hamming,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hamming, dup_of) AS rk
      |  FROM pairs
      |)
      |SELECT doc_id, dup_of, hamming FROM best WHERE rk = 1
      |ORDER BY doc_id""".stripMargin

  val ns14FrameSampleSql: String =
    """SELECT doc_id AS media_id, unnest(range(0, n_chars, 100)) AS frame_offset
      |FROM documents WHERE doc_id % 3 = 2
      |ORDER BY media_id, frame_offset""".stripMargin

  /** Media resize plumbing — approximate-free but byte-level, which
    * ANSI SQL cannot mirror (no blob stride in DuckDB): driver
    * rows-only check; byte-exact semantics are covered in MlSpec.
    */
  val ns21Resize: Q = (s, dir) =>
    Multimodal.resize(
      Multimodal.mediaTable(Tables.documents(s, dir)), stride = 2)
      .toDF()
      .orderBy(col("media_id"))

  /** ns21's hash-gated sibling (r7 verdict item 7): everything about
    * the resize EXCEPT the output bytes is deterministic arithmetic —
    * input size and the stepped-copy output size ⌈n/stride⌉ — so
    * those columns get a cross-engine oracle through the SAME
    * mapPartitions resize path, leaving only `sig_out` spec-only
    * (MlSpec byte-exactness). The oracle coalesces a NULL payload to
    * 0 bytes because that is what resize() does (explicit empty-bytes
    * fallback) — the current fixtures carry no null text, but a
    * regen that adds one must not flip this row hash-red.
    */
  val ns21bResizeDims: Q = (s, dir) =>
    Multimodal.resize(
      Multimodal.mediaTable(Tables.documents(s, dir)), stride = 2)
      .toDF()
      .select(col("media_id"), col("media_type"),
        col("n_bytes_in"), col("n_bytes_out"))
      .orderBy(col("media_id"))

  val ns21bResizeDimsSql: String =
    """SELECT doc_id AS media_id,
      |  ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
      |  coalesce(octet_length(encode(text)), 0)::BIGINT AS n_bytes_in,
      |  ((coalesce(octet_length(encode(text)), 0) + 1) // 2)::BIGINT
      |    AS n_bytes_out
      |FROM documents ORDER BY media_id""".stripMargin

  /** The DECODED-dimension rule, cross-engine (r13 verdict item 2):
    * every 50th doc_id synthesizes a real PNG of known dims
    * (1 + id%37) × (1 + id%23) with deterministic pixels, and
    * [[Multimodal.resize]] must decode it for real and emit
    * ⌈w/stride⌉ × ⌈h/stride⌉ — DuckDB restates the arithmetic, so a
    * resize that silently fell back to the byte stub (dims 0, decoded
    * false) or drifted off the ceil rule goes hash-red. The resampled
    * BYTES stay spec-gated (MlSpec pins every output pixel on a 5×3
    * PNG — ANSI SQL cannot re-encode images).
    */
  val ns21cResizeDecoded: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = 1 + (id % 37).toInt
        val h = 1 + (id % 23).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              ((id * 2654435761L + x * 31L + y * 17L) & 0xFFFFFF).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, "image", bos.toByteArray, "synth", w.toLong * h)
      }
      .toDF("media_id", "media_type", "payload", "source",
        "length_hint")
    Multimodal.resize(media, stride = 2).toDF()
      .select(col("media_id"), col("width_out"), col("height_out"),
        col("decoded"))
      .orderBy(col("media_id"))
  }

  val ns21cResizeDecodedSql: String =
    """SELECT doc_id AS media_id,
      |  CAST((doc_id % 37 + 2) // 2 AS INT) AS width_out,
      |  CAST((doc_id % 23 + 2) // 2 AS INT) AS height_out,
      |  true AS decoded
      |FROM documents WHERE doc_id % 50 = 0
      |ORDER BY media_id""".stripMargin

  /** JSONL ingestion with the malformed-line quarantine
    * ([[graft.sources.JsonlCorpus.readQuarantined]]): the documents
    * table round-trips through line-delimited JSON with every 97th
    * line truncated mid-object (doc_id % 97 == 3 loses its closing
    * brace — deterministically malformed), and the PERMISSIVE read
    * must parse the good lines field-exactly while quarantining the
    * bad ones as explicit rows — never dropping them (the silent
    * corpus-shrink the reference's legacy stack suffered) and never
    * failing the scan. The oracle restates both populations from the
    * parquet source and the corruption rule, so the reader's
    * good/quarantine SPLIT and the parsed values are hash-gated
    * cross-engine; the raw-line quarantine payload is spec-gated
    * (JsonlCorpusSpec — DuckDB never sees the JSONL file).
    */
  val ns67JsonlQuarantine: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "jsonl_corpus")
    if (ivfIndexWritten.add(path)) {
      docs.select(
          to_json(struct(col("doc_id"), col("source"), col("text")))
            .as("l"), col("doc_id").as("id"))
        .select(when(col("id") % 97 === 3,
            expr("substring(l, 1, length(l) - 1)"))
          .otherwise(col("l")).as("value"))
        .write.mode("overwrite").text(path)
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    graft.sources.JsonlCorpus.readQuarantined(s, path, schema)
      .select(col("doc_id"), col("source"),
        length(col("text")).as("n_chars"),
        col(graft.sources.JsonlCorpus.CorruptCol).isNotNull
          .as("corrupt"))
      .orderBy(col("corrupt"), col("doc_id"))
  }

  val ns67JsonlQuarantineSql: String =
    """SELECT doc_id, source, length(text)::INT AS n_chars,
      |  false AS corrupt
      |FROM documents WHERE doc_id % 97 <> 3
      |UNION ALL
      |SELECT NULL, NULL, NULL, true AS corrupt
      |FROM documents WHERE doc_id % 97 = 3
      |ORDER BY corrupt, doc_id""".stripMargin

  /** ns67 over GZIP-compressed JSONL (r14 verdict item 6): the same
    * per-line truncation fixture written as .gz files, read through
    * the same PERMISSIVE+corrupt-column contract — the quarantine
    * split is codec-independent (Hadoop decompresses before the line
    * reader), gated on ns67's exact oracle. Layout note lives on
    * [[graft.sources.JsonlCorpus.admitFiles]]: a single-member .gz is
    * one unsplittable task, so crawl deliverers target ~128 MB
    * members; the semantics gated here are identical either way.
    * The unreadable-FILE path (truncated gzip MEMBER, not line) is
    * JsonlCorpusSpec's half — readQuarantinedChecked dead-letters the
    * file instead of killing the job.
    */
  val ns67bJsonlGz: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "jsonl_gz")
    if (ivfIndexWritten.add(path)) {
      docs.select(
          to_json(struct(col("doc_id"), col("source"), col("text")))
            .as("l"), col("doc_id").as("id"))
        .select(when(col("id") % 97 === 3,
            expr("substring(l, 1, length(l) - 1)"))
          .otherwise(col("l")).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(path)
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    graft.sources.JsonlCorpus.readQuarantined(s, path, schema)
      .select(col("doc_id"), col("source"),
        length(col("text")).as("n_chars"),
        col(graft.sources.JsonlCorpus.CorruptCol).isNotNull
          .as("corrupt"))
      .orderBy(col("corrupt"), col("doc_id"))
  }

  val ns67bJsonlGzSql: String = ns67JsonlQuarantineSql

  /** The WARC front door ([[graft.sources.WarcCorpus]], r14 verdict
    * item 8): documents synthesized into WARC/1.0 response records —
    * every 97th-mod-3 record with its Content-Length header OMITTED
    * (a structurally-broken record) — read back through the
    * header-delimited split + native-expression validation. Good
    * records round-trip their URI, byte length, and payload char
    * count; broken records quarantine all-null with the raw record
    * retained (rows+schema+hash vs the per-doc restatement). The
    * split mechanism is the stock text scan with a custom lineSep —
    * no custom input format — so the gate also pins that Spark-first
    * choice behaviorally.
    */
  val ns69Warc: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "warc_corpus")
    if (ivfIndexWritten.add(path)) {
      docs.select(concat(
          lit("WARC-Record-ID: urn:uuid:"), col("doc_id"), lit("\r\n"),
          lit("WARC-Type: response\r\n"),
          lit("WARC-Target-URI: http://corpus.local/doc/"),
          col("doc_id"), lit("\r\n"),
          when(col("doc_id") % 97 =!= 3,
            concat(lit("Content-Length: "),
              octet_length(col("text")).cast("string"), lit("\r\n")))
            .otherwise(lit("")),
          // spec-conformant record: payload followed by the \r\n\r\n
          // record terminator (the byte-exact parser — r15 advice —
          // validates it; the text sink's lineSep only supplies the
          // NEXT record's header, never the terminator)
          lit("\r\n"), col("text"), lit("\r\n\r\n")).as("value"))
        .write.mode("overwrite")
        .option("lineSep", graft.sources.WarcCorpus.RecordHeader)
        .text(path)
    }
    graft.sources.WarcCorpus.readQuarantined(s, path)
      .select(col("target_uri"), col("content_length"),
        length(col("payload")).as("n_chars"),
        col(graft.sources.WarcCorpus.CorruptCol).isNotNull
          .as("corrupt"))
      .orderBy(col("corrupt"), col("target_uri"))
  }

  val ns69WarcSql: String =
    """SELECT 'http://corpus.local/doc/' || doc_id AS target_uri,
      |  octet_length(encode(text))::BIGINT AS content_length,
      |  length(text)::INT AS n_chars, false AS corrupt
      |FROM documents WHERE doc_id % 97 <> 3
      |UNION ALL
      |SELECT NULL, NULL, NULL, true AS corrupt
      |FROM documents WHERE doc_id % 97 = 3
      |ORDER BY corrupt, target_uri""".stripMargin

  /** ns69 over GZIP-compressed WARC (r15 verdict item 2, the ns67b
    * pattern): the same per-record broken-header fixture written as
    * .gz files, read through [[graft.sources.WarcCorpus
    * .readQuarantinedChecked]] — the checked front door, so this gate
    * pins BOTH halves at once: the record split/validation is
    * codec-independent (Hadoop decompresses before the custom-lineSep
    * line reader), and the file-level probe (decode-through + WARC
    * magic) passes clean members through untouched. The unreadable-
    * FILE path (truncated gzip member, wrong magic) is
    * WarcCorpusSpec's half. Layout note: a single-member .gz is one
    * unsplittable task — crawl deliverers target ~128 MB members; the
    * semantics gated here are identical either way.
    */
  val ns69bWarcGz: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "warc_gz")
    if (ivfIndexWritten.add(path)) {
      // each row carries its OWN leading record header (real WARC
      // layout — the file begins with WARC/1.0, which is also what
      // the checked probe's magic requires of the decoded stream);
      // the read side splits on that same header, so the prefix
      // yields one empty fragment per record (filtered) and the
      // record bodies parse identically to ns69's
      docs.select(concat(
          lit(graft.sources.WarcCorpus.RecordHeader),
          lit("WARC-Record-ID: urn:uuid:"), col("doc_id"), lit("\r\n"),
          lit("WARC-Type: response\r\n"),
          lit("WARC-Target-URI: http://corpus.local/doc/"),
          col("doc_id"), lit("\r\n"),
          when(col("doc_id") % 97 =!= 3,
            concat(lit("Content-Length: "),
              octet_length(col("text")).cast("string"), lit("\r\n")))
            .otherwise(lit("")),
          lit("\r\n"), col("text"), lit("\r\n\r\n")).as("value"))
        .write.mode("overwrite")
        .option("lineSep", graft.sources.WarcCorpus.RecordHeader)
        .option("compression", "gzip")
        .text(path)
    }
    graft.sources.WarcCorpus.readQuarantinedChecked(s, path,
      s"${path}_file_rejects")
      .select(col("target_uri"), col("content_length"),
        length(col("payload")).as("n_chars"),
        col(graft.sources.WarcCorpus.CorruptCol).isNotNull
          .as("corrupt"))
      .orderBy(col("corrupt"), col("target_uri"))
  }

  val ns69bWarcGzSql: String = ns69WarcSql

  // ------------------------------- ns71 URL canonicalization dedup

  /** Crawl URL dedup ([[TextAnalysis.canonicalizeUrl]]) — the
    * map-only pre-pass a web corpus runs before any content dedup:
    * dirty URLs are fabricated in-plan from `orders` (four variants
    * per key family — mixed-case scheme/host, explicit default
    * ports for both schemes, utm_* tracking params, shuffled query
    * order, trailing-slash piles, fragments) and must collapse to
    * one canonical form per (item, customer) family, counted with
    * the first-seen key. The oracle restates the whole rewrite —
    * fragment strip, case fold, default-port drop, slash collapse,
    * utm filter, byte-wise param sort — closed-form in DuckDB.
    */
  val ns71UrlCanon: Q = (s, dir) => {
    val grp = (col("o_orderkey") % 50).cast("string")
    val cust = (col("o_custkey") % 100).cast("string")
    val url = when(col("o_orderkey") % 4 === 0,
        concat(lit("http://Shop.Example.com/item/"), grp,
          lit("?z=1&id="), cust, lit("&utm_source=mail")))
      .when(col("o_orderkey") % 4 === 1,
        concat(lit("HTTP://shop.example.COM:80/item/"), grp,
          lit("/?id="), cust, lit("&z=1")))
      .when(col("o_orderkey") % 4 === 2,
        concat(lit("http://shop.example.com/item/"), grp,
          lit("?utm_campaign=x&id="), cust, lit("&z=1#top")))
      .otherwise(
        concat(lit("https://Shop.example.com:443/item/"), grp,
          lit("//?id="), cust, lit("&utm_medium=y#frag")))
    // canonicalizeUrl is ~8 regex passes per row but the orders scan
    // is byte-small — the whole pass ran in ONE task (measured 2 s
    // single-task job); widenIfStarved spreads the regex work at the
    // session width and is a no-op once the scan itself is wide
    Materialize.widenIfStarved(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")))
      .select(TextAnalysis.canonicalizeUrl(url).as("canonical_url"),
        col("o_orderkey"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"),
        min(col("o_orderkey")).as("first_seen"))
      .orderBy(col("canonical_url"))
  }

  val ns71UrlCanonSql: String =
    """WITH u AS (
      |  SELECT o_orderkey,
      |    CASE CAST(o_orderkey % 4 AS INT)
      |      WHEN 0 THEN 'http://Shop.Example.com/item/' ||
      |        (o_orderkey % 50) || '?z=1&id=' || (o_custkey % 100) ||
      |        '&utm_source=mail'
      |      WHEN 1 THEN 'HTTP://shop.example.COM:80/item/' ||
      |        (o_orderkey % 50) || '/?id=' || (o_custkey % 100) ||
      |        '&z=1'
      |      WHEN 2 THEN 'http://shop.example.com/item/' ||
      |        (o_orderkey % 50) || '?utm_campaign=x&id=' ||
      |        (o_custkey % 100) || '&z=1#top'
      |      ELSE 'https://Shop.example.com:443/item/' ||
      |        (o_orderkey % 50) || '//?id=' || (o_custkey % 100) ||
      |        '&utm_medium=y#frag'
      |    END AS url
      |  FROM orders
      |), b AS (
      |  SELECT o_orderkey, regexp_replace(trim(url), '#.*$', '') AS base
      |  FROM u
      |), p AS (
      |  SELECT o_orderkey,
      |    lower(regexp_extract(base,
      |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(base,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
      |    regexp_extract(base,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(base, '\?([^#]*)', 1) AS query
      |  FROM b
      |), n AS (
      |  SELECT o_orderkey, scheme,
      |    CASE WHEN scheme = 'http'
      |        THEN regexp_replace(hostport, ':80$', '')
      |      WHEN scheme = 'https'
      |        THEN regexp_replace(hostport, ':443$', '')
      |      ELSE hostport END AS host,
      |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
      |      ELSE regexp_replace(rawpath, '/+$', '') END AS path,
      |    list_sort(list_filter(string_split(query, '&'),
      |      q -> q <> '' AND NOT starts_with(q, 'utm_'))) AS params
      |  FROM p
      |)
      |SELECT scheme || '://' || host || path ||
      |    CASE WHEN len(params) > 0
      |      THEN '?' || array_to_string(params, '&') ELSE '' END
      |    AS canonical_url,
      |  count(*) AS n_urls, min(o_orderkey) AS first_seen
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------- ns68 unified takedown capstone

  /** The ns68 readmission batch's genuinely-novel document — ONE fixed
    * literal shared verbatim by the engine fixture and the oracle (no
    * apostrophes: it embeds in single-quoted SQL). ≥200 chars and
    * English-stopword-dense so it passes the ingest gate by the same
    * rules both sides restate.
    */
  private val ns68NovelText: String =
    "the corpus takedown test adds a novel document to the batch and " +
      "the gate admits it because the signature of the text is not " +
      "in the store and the text is long enough to pass the length " +
      "rule of the ingest gate in the pipeline that is under test"

  /** Unified corpus takedown, end to end ([[Corpus.takedown]] — the
    * r14 verdict's top item): ONE doc_id (n/3, engine-required to be
    * an admitted corpus doc so the readmission half is non-vacuous)
    * cascades through the committed corpus table, the BM25 postings,
    * the IVF cells, the flat sign-bit index, the perceptual-hash
    * store, the substr shingle postings, AND the streaming near-dup
    * suppression store — then every surface is SERVED and the union
    * gated as one oracle:
    *
    *  - `corpus` rows restate the whole admission chain (length+lang
    *    gate, exact-sig near-dup greedy admission as a min-per-sig
    *    window — maxHamming 0 makes the banding equality, so the
    *    sequential two-batch ingest restates closed-form) over the
    *    survivor set, PLUS the post-takedown batch: a sig-identical
    *    copy of the deleted doc (ADMITTED — its suppressing signature
    *    died with the takedown; the verdict's "near-copy admissible
    *    afterward"), a copy of a surviving doc (still suppressed),
    *    and a fixed novel doc (admitted);
    *  - `bm25`/`ivf`/`binary` restate the served top-k over the alive
    *    corpus (the ns46d/ns8f/ns7g survivor oracles with this
    *    entry's single-id predicate; IVF and PQ share one tombstone
    *    table, so the IVF serve pins the mask both read paths apply —
    *    TakedownSpec additionally drives the PQ read path);
    *  - `phash` restates the best-surviving-near-dup increment
    *    (ns66e's shape) and `substr` the survivor-corpus span report
    *    (ns55d's shape) — the deleted holder neither pairs nor flags.
    *
    * Hash-equality across all six surfaces proves ONE call made the
    * doc unreachable everywhere and the suppression release admits
    * new near-copies — previously seven per-store APIs a caller had
    * to know and order. Crash-replay idempotence is TakedownSpec's
    * half.
    */
  val ns68Takedown: Q = (s, dir) =>
    ns68Plan(s, dir, "takedown", sweep = false)

  /** The shared ns68/ns68b body: build the seven stores, take the doc
    * down, ingest the readmission batch, optionally run the
    * threshold-triggered maintenance SWEEP over every family
    * ([[Maintenance.maintainIndex]] + the corpus/store compactors —
    * ns68b's physical half), then serve the six evidence surfaces.
    * Both gates share ONE oracle: physical reclaim must be
    * answer-invisible end to end, the per-family ns*-compacted
    * discipline proven through the unified cascade.
    */
  private def ns68Plan(s: SparkSession, dir: String, base: String,
      sweep: Boolean): DataFrame = {
    import s.implicits._
    val docsFull = Tables.documents(s, dir)
    val docs = docsFull.select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(s, dir)
    val media = Multimodal.mediaTable(docsFull)
    val n = docsFull.count()
    val d = n / 3
    val root = RelationalQueries.zOrderedTablePath(s, dir, base)
    val corpus = s"$root/corpus"
    val store = s"$root/store"
    val bm = s"$root/bm25"
    val ivf = s"$root/ivf"
    val bin = s"$root/bin"
    val ph = s"$root/phash"
    val sub = s"$root/substr"
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    if (ivfIndexWritten.add(root)) {
      // the fixture is STATEFUL (tombstones, committed batch
      // partitions, the suppression store): the entry owns it and
      // rebuilds from scratch once per JVM
      val rp = new org.apache.hadoop.fs.Path(root)
      rp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rp, true)
      // corpus + suppression store: two id-ordered batches through the
      // REAL ingest (gate → near-dup store → committed partition);
      // maxHamming 0 so admission restates as one min-per-sig window
      graft.streaming.CorpusIngest.ingestBatch(
        docs.filter(col("doc_id") < n / 2), 0L, corpus, store,
        minChars = 200, lang = "en", maxHamming = 0)
      graft.streaming.CorpusIngest.ingestBatch(
        docs.filter(col("doc_id") >= n / 2), 1L, corpus, store,
        minChars = 200, lang = "en", maxHamming = 0)
      // the derived standing indexes
      Retrieval.writeBm25Index(docs, bm, nBuckets = 64)
      Similarity.writeIvfIndex(emb, cents, ivf)
      Similarity.writeBinaryIndex(emb, bin, dim = 64)
      Multimodal.writePhashIndex(
        media.filter(col("media_id") % 3 =!= 0), ph)
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < n / 2), sub,
        k = 6)
      // fixture precondition, loud: the target must be an ADMITTED
      // corpus doc (gated + canonical) or the readmission half proves
      // nothing — holds on the driver testdata at every SF (probed),
      // and testdata drift fails here instead of hash-diverging
      require(!graft.streaming.CorpusIngest.readCorpus(s, corpus)
        .filter(col("doc_id") === d).isEmpty,
        s"ns68: doc $d is not in the admitted corpus — testdata drift")
      // THE operation under test: one call, every store
      Corpus.takedown(s, Seq(d).toDF("doc_id"),
        Corpus.TakedownTargets(
          corpusPath = Some(corpus), nearDupStorePath = Some(store),
          bm25Path = Some(bm), ivfPath = Some(ivf),
          binaryPath = Some(bin), phashPath = Some(ph),
          substrPath = Some(sub)))
      // post-takedown readmission batch (bounded driver actions: two
      // 1-row text lookups)
      val dText = docs.filter(col("doc_id") === d)
        .head().getAs[String]("text")
      val sMin = graft.streaming.CorpusIngest.readCorpus(s, corpus)
        .agg(min(col("doc_id"))).head().getLong(0)
      val sText = docs.filter(col("doc_id") === sMin)
        .head().getAs[String]("text")
      graft.streaming.CorpusIngest.ingestBatch(
        Seq((n + 10, dText), (n + 11, sText), (n + 12, ns68NovelText))
          .toDF("doc_id", "text"), 2L, corpus, store,
        minChars = 200, lang = "en", maxHamming = 0)
      if (sweep) {
        // ns68b: the POLICY path fires every family's crash-safe
        // compactor (threshold 0 = everything with debt sweeps);
        // serves below must answer exactly like ns68's masked reads
        val zero = Maintenance.Thresholds(maxTombstoneIds = 0L)
        Seq("bm25" -> bm, "ivf" -> ivf, "binary" -> bin,
          "phash" -> ph, "substr" -> sub, "corpus" -> corpus,
          "neardup_store" -> store).foreach { case (fam, p) =>
          Maintenance.maintainIndex(s, p, fam, zero)
          ()
        }
      }
    }
    // The six evidence surfaces are independent read-only serves, but
    // each one's CONSTRUCTION runs bounded driver actions (stats
    // heads, probed-cell/bucket collects, hardened-read checkpoints) —
    // measured ~100 small jobs per serve pass with most wall in the
    // gaps, not the executors (JobStats r17) — so they are built
    // overlapped; they share no mutable state (the fixture block above
    // is already complete) and the final union's orderBy makes result
    // order construction-independent.
    val alive = emb.filter(col("vec_id") =!= lit(d))
    val surfaceThunks: Seq[() => DataFrame] = Seq(
      () => graft.streaming.CorpusIngest.readCorpus(s, corpus)
        .select(lit("corpus").as("surface"),
          col("doc_id").cast("long").as("a"), lit(0L).as("b"),
          lit(0L).as("c"), lit(1.0).as("v")),
      () => {
        val bmQueries = docsFull.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"),
            slice(split(col("text"), " "), 1, 4).as("terms"))
        Retrieval.queryBm25Index(s, bm, bmQueries, k = 5)
          .select(lit("bm25").as("surface"),
            col("query_id").cast("long").as("a"),
            col("rank").cast("long").as("b"),
            col("doc_id").cast("long").as("c"), col("score").as("v"))
      },
      () => Similarity.queryIvfIndex(s, ivf,
          alive.filter(col("vec_id") % 25 === 0), cents, k = 5,
          probes = 3)
        .select(lit("ivf").as("surface"), col("i").cast("long").as("a"),
          col("rk").cast("long").as("b"), col("j").cast("long").as("c"),
          col("cos").as("v")),
      () => Similarity.binaryTopKServed(s, bin, alive,
          alive.filter(col("vec_id") % 25 === 0).select(col("vec_id")),
          k = 5, refine = 100)
        .select(lit("binary").as("surface"),
          col("i").cast("long").as("a"), col("rk").cast("long").as("b"),
          col("j").cast("long").as("c"), col("cos").as("v")),
      () => graft.streaming.MediaIngest.phashIncrementServed(s, ph,
          media.filter(col("media_id") % 3 === 0), maxHamming = 12,
          bands = 13, bandOccupancyCap = 100)
        .select(lit("phash").as("surface"),
          col("doc_id").cast("long").as("a"),
          col("dup_of").cast("long").as("b"),
          col("hamming").cast("long").as("c"), lit(1.0).as("v")),
      () => Dedup.exactSubstrIncrement(s,
          docs.filter(col("doc_id") >= n / 2), sub)
        .select(lit("substr").as("surface"),
          col("doc_id").cast("long").as("a"),
          col("n_spans").cast("long").as("b"),
          col("dup_tokens").cast("long").as("c"), col("frac_dup").as("v")))
    Materialize.overlap(surfaceThunks).reduce(_.unionByName(_))
      .orderBy(col("surface"), col("a"), col("b"), col("c"))
  }

  /** ns68's PHYSICAL half: the same takedown cascade, then the
    * threshold-triggered maintenance sweep fires EVERY family's
    * crash-safe compactor — BM25/IVF/binary/phash/substr through
    * [[Maintenance.maintainIndex]], plus the corpus table
    * ([[graft.streaming.CorpusIngest.compactCorpus]] — markers
    * preserved so batch replays keep absorbing) and the suppression
    * store ([[graft.streaming.StreamingNearDup.compactStore]] —
    * batch_id/batch_sig ledger preserved) — then the same six
    * surfaces serve, gated on ns68's EXACT oracle: one unified
    * takedown, physically reclaimed everywhere, answer-invisible.
    */
  val ns68bTakedownSwept: Q = (s, dir) =>
    ns68Plan(s, dir, "takedown_c", sweep = true)

  /** The takedown COMPLIANCE LEDGER ([[Corpus.takedown]]'s
    * `ledgerPath` — r15 verdict item 5): the cascade is run TWICE
    * (the second call is the crash-repair replay) against a served
    * binary index, and the ledger must hold exactly ONE row whose
    * `cascade_sig` = md5(sorted ids | store names) the oracle
    * restates closed-form — idempotent absorption and the audit
    * answer ("these ids, these stores, cascade durable") in one
    * hash-gated read. TakedownSpec drives the multi-store and
    * crash-ordering halves.
    */
  val ns68cTakedownLedger: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir,
      "ledger_bin_index")
    val ledger = RelationalQueries.zOrderedTablePath(s, dir,
      "takedown_ledger")
    if (ivfIndexWritten.add(path)) {
      // fresh JVM: rebuild the store AND reset the ledger, so the
      // gate's two cascades are provably this run's only rows
      val lp = new org.apache.hadoop.fs.Path(ledger)
      lp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      graft.ml.Similarity.writeBinaryIndex(emb, path, dim = 64)
    }
    val ids = emb.filter(col("vec_id") % 101 === 7)
      .select(col("vec_id").as("doc_id"))
    // loud fixture guard (the ns68 discipline)
    require(!ids.isEmpty,
      "ns68c fixture drift: no vec_id % 101 == 7 in embeddings")
    val t = Corpus.TakedownTargets(binaryPath = Some(path))
    Corpus.takedown(s, ids, t, ledgerPath = Some(ledger))
    Corpus.takedown(s, ids, t, ledgerPath = Some(ledger))
    s.read.parquet(ledger)
      .select(col("cascade_sig"), col("n_ids"),
        concat_ws(",", col("stores")).as("stores"))
      .orderBy(col("cascade_sig"))
  }

  val ns68cTakedownLedgerSql: String =
    """WITH ids AS (
      |  SELECT DISTINCT vec_id FROM embeddings WHERE vec_id % 101 = 7
      |)
      |SELECT md5(array_to_string(list_sort(list(vec_id::VARCHAR)), ',')
      |    || '|binary') AS cascade_sig,
      |  count(*) AS n_ids, 'binary' AS stores
      |FROM ids
      |ORDER BY cascade_sig""".stripMargin

  val ns68TakedownSql: String = {
    val nn = "(SELECT count(*) FROM documents)"
    val dd = s"($nn // 3)"
    def simhashOver(src: String): String =
      s"""SELECT doc_id,
         |    list_sum([CASE WHEN len(list_filter(whashes, h -> (h >> j) & 1 = 1)) * 2
         |        >= len(whashes) THEN (1::BIGINT << j) ELSE 0::BIGINT END
         |      FOR j IN range(0, 60)])::BIGINT AS simhash
         |  FROM (SELECT doc_id,
         |      [${duckHash60("w")} FOR w IN string_split(text, ' ')] AS whashes
         |    FROM $src)""".stripMargin
    val corpusBranch =
      s"""WITH gated AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE length(text) >= 200 AND ($duckLangCase) = 'en'
         |), sig AS (
         |  ${simhashOver("gated")}
         |), admitted AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY simhash) AS m
         |    FROM sig) WHERE doc_id = m
         |), survivors AS (
         |  SELECT doc_id FROM admitted WHERE doc_id <> $dd
         |), ssig AS (
         |  SELECT simhash FROM sig JOIN survivors USING (doc_id)
         |), b3 AS (
         |  SELECT $nn + 10 AS doc_id,
         |    (SELECT text FROM documents WHERE doc_id = $dd) AS text
         |  UNION ALL SELECT $nn + 11,
         |    (SELECT text FROM documents
         |     WHERE doc_id = (SELECT min(doc_id) FROM survivors))
         |  UNION ALL SELECT $nn + 12, '$ns68NovelText'
         |), b3g AS (
         |  SELECT doc_id, text FROM b3
         |  WHERE length(text) >= 200 AND ($duckLangCase) = 'en'
         |), b3sig AS (
         |  ${simhashOver("b3g")}
         |), b3adm AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, simhash,
         |      min(doc_id) OVER (PARTITION BY simhash) AS m
         |    FROM b3sig) x
         |  WHERE doc_id = m AND NOT EXISTS (
         |    SELECT 1 FROM ssig WHERE ssig.simhash = x.simhash)
         |)
         |SELECT 'corpus' AS surface, doc_id AS a, 0::BIGINT AS b,
         |  0::BIGINT AS c, 1.0::DOUBLE AS v FROM survivors
         |UNION ALL SELECT 'corpus', doc_id, 0::BIGINT, 0::BIGINT,
         |  1.0::DOUBLE FROM b3adm""".stripMargin
    val aliveCte =
      s"""
        |alive AS (
        |  SELECT * FROM nz WHERE vec_id <> $dd
        |),""".stripMargin
    val ivfBranch = ivfMultiProbeSql(duckSeedCents16, corpus = "alive",
      pre = aliveCte, queryPred = "q.vec_id % 25 = 0", recall = false)
    val binaryBranch =
      s"""WITH $duckNonZeroEmb,
        |alive AS (
        |  SELECT * FROM nz WHERE vec_id <> $dd
        |), sgn AS (
        |  SELECT vec_id, embedding, s, list_sum(s) AS pc FROM (
        |    SELECT vec_id, embedding,
        |      [CASE WHEN x > 0 THEN 1 ELSE 0 END
        |        FOR x IN embedding::DOUBLE[]] AS s
        |    FROM alive)
        |), cand AS (
        |  SELECT i, j FROM (
        |    SELECT a.vec_id AS i, b.vec_id AS j,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY (a.pc + b.pc - 2 * list_dot_product(a.s, b.s)),
        |          b.vec_id) AS hrk
        |    FROM sgn a JOIN sgn b ON a.vec_id <> b.vec_id
        |    WHERE a.vec_id % 25 = 0) WHERE hrk <= 100
        |), approx AS (
        |  SELECT i, rk, j, cos FROM (
        |    SELECT c.i, c.j,
        |      round(list_cosine_similarity(a.embedding::DOUBLE[],
        |        b.embedding::DOUBLE[]), 6) AS cos,
        |      row_number() OVER (PARTITION BY c.i
        |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
        |          b.embedding::DOUBLE[]), 6) DESC, c.j) AS rk
        |    FROM cand c JOIN alive a ON a.vec_id = c.i
        |    JOIN alive b ON b.vec_id = c.j) WHERE rk <= 5
        |)
        |SELECT i, rk, j, cos FROM approx""".stripMargin
    val phashBranch =
      s"""WITH $duckAHashSig, pairs AS (
        |  SELECT n.doc_id, o.doc_id AS dup_of,
        |    bit_count(xor(n.simhash, o.simhash)) AS hamming
        |  FROM sig n JOIN sig o
        |    ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
        |    AND o.doc_id <> $dd
        |  WHERE bit_count(xor(n.simhash, o.simhash)) <= 12
        |), best AS (
        |  SELECT doc_id, dup_of, hamming,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hamming, dup_of) AS rk
        |  FROM pairs
        |)
        |SELECT doc_id, dup_of, hamming FROM best WHERE rk = 1""".stripMargin
    val substrBranch = substrPipelineSql(
      s"WHERE b.doc_id >= $nn // 2", s"WHERE doc_id <> $dd")
    s"""SELECT surface, a, b, c, v FROM (
       |SELECT * FROM (
       |$corpusBranch
       |) tc
       |UNION ALL
       |SELECT 'bm25' AS surface, query_id AS a, rank::BIGINT AS b,
       |  doc_id AS c, score AS v FROM (
       |${bm25Sql(s"doc_id <> $dd")}
       |) tb
       |UNION ALL
       |SELECT 'ivf', i, rk::BIGINT, j, cos FROM (
       |$ivfBranch
       |) ti
       |UNION ALL
       |SELECT 'binary', i, rk::BIGINT, j, cos FROM (
       |$binaryBranch
       |) tn
       |UNION ALL
       |SELECT 'phash', doc_id, dup_of, hamming::BIGINT, 1.0::DOUBLE
       |FROM (
       |$phashBranch
       |) tp
       |UNION ALL
       |SELECT 'substr', doc_id, n_spans, dup_tokens, frac_dup FROM (
       |$substrBranch
       |) ts
       |) ORDER BY surface, a, b, c""".stripMargin
  }

  /** Benchmark decontamination: docs sharing any distinct word 4-gram
    * with the "benchmark" slice (every 97th doc stands in for an eval
    * set) are flagged with overlap counts — the standard test-set-
    * leak check run before training. (4-grams: at the synthetic
    * corpus's doc lengths, true 5-grams flag almost nothing — a
    * one-row result would make this gate near-vacuous.)
    */
  val ns23Contamination: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Corpus.contamination(
      train = docs.filter(col("doc_id") % 97 =!= 0),
      eval = docs.filter(col("doc_id") % 97 === 0), n = 4)
      .orderBy(col("doc_id"))
  }

  val ns23ContaminationSql: String =
    s"""WITH th AS (
       |  SELECT doc_id, ${duckHash60("s")} AS h
       |  FROM (SELECT doc_id,
       |      unnest(list_distinct([array_to_string(w[i:i+3], ' ') FOR i IN range(1, len(w) - 2)])) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w
       |      FROM documents WHERE doc_id % 97 <> 0))
       |), ev AS (
       |  SELECT DISTINCT ${duckHash60("s")} AS h
       |  FROM (SELECT unnest(list_distinct([array_to_string(w[i:i+3], ' ') FOR i IN range(1, len(w) - 2)])) AS s
       |    FROM (SELECT string_split(text, ' ') AS w
       |      FROM documents WHERE doc_id % 97 = 0))
       |), perdoc AS (
       |  SELECT doc_id, count(*) AS n_ngrams FROM th GROUP BY 1
       |), hits AS (
       |  SELECT doc_id, count(*) AS n_contaminated
       |  FROM th JOIN ev USING (h) GROUP BY 1
       |)
       |SELECT doc_id, n_contaminated, n_ngrams,
       |  round(n_contaminated::DOUBLE / n_ngrams, 6) AS contamination_ratio
       |FROM hits JOIN perdoc USING (doc_id) ORDER BY doc_id""".stripMargin

  /** ns23's Bloom-prefiltered sibling — byte-identical output (no
    * false negatives + exact refine), hash-compared against the SAME
    * oracle, proving the runtime-filter path end-to-end.
    */
  val ns30ContaminationBloom: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Corpus.contaminationBloom(
      train = docs.filter(col("doc_id") % 97 =!= 0),
      eval = docs.filter(col("doc_id") % 97 === 0), n = 4)
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicated-3-gram fraction (C4/Gopher-style
    * boilerplate filter): per doc, the share of its distinct 3-grams
    * occurring in more than 2 documents corpus-wide. Catches templated
    * boilerplate that pairwise near-dup (ns2/ns3) structurally misses.
    */
  val ns28DupNgrams: Q = (s, dir) =>
    Dedup.dupNgramFraction(Tables.documents(s, dir), n = 3,
      dfThreshold = 2)
      .orderBy(col("doc_id"))

  val ns28DupNgramsSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, ${duckHash60("s")} AS h
       |  FROM (SELECT doc_id,
       |      unnest(list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)])) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |), dup AS (
       |  SELECT h FROM sh GROUP BY h HAVING count(*) > 2
       |)
       |SELECT sh.doc_id,
       |  count(dup.h) AS n_dup,
       |  count(*) AS n_ngrams,
       |  round(count(dup.h)::DOUBLE / count(*), 6) AS dup_frac
       |FROM sh LEFT JOIN dup ON sh.h = dup.h
       |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  /** Paragraph-level duplication (sub-document granularity): fraction
    * of each doc's 20-word aligned windows that appear verbatim in ≥1
    * other doc. Oracle restates the window split with DuckDB list
    * slicing and the cross-doc df by paragraph string (the engine's
    * hash60 never crosses the compare boundary).
    */
  val ns35DupParagraphs: Q = (s, dir) =>
    Dedup.dupParagraphFraction(Tables.documents(s, dir), paraWords = 20)
      .orderBy(col("doc_id"))

  val ns35DupParagraphsSql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents WHERE text IS NOT NULL
      |), paras AS (
      |  SELECT doc_id,
      |    unnest([array_to_string(w[(i*20+1):(i*20+20)], ' ')
      |      FOR i IN range(0, CAST(ceil(len(w)/20.0) AS BIGINT))]) AS para
      |  FROM base
      |), d AS (
      |  SELECT para FROM paras GROUP BY para
      |  HAVING count(DISTINCT doc_id) >= 2
      |)
      |SELECT paras.doc_id,
      |  count(*) AS n_paras,
      |  count(d.para) AS n_dup_paras,
      |  round(count(d.para)::DOUBLE / count(*), 6) AS dup_para_frac
      |FROM paras LEFT JOIN d ON paras.para = d.para
      |GROUP BY paras.doc_id ORDER BY paras.doc_id""".stripMargin

  /** Paragraph-granularity NEAR-dup pairs — ns35 finds verbatim
    * repeated passages; this catches passages that differ by a few
    * words, by running the ns2 capped-Jaccard posting-list machinery
    * unchanged over the paragraph view (operator reuse, not new
    * plumbing). Paragraph identity is the composite doc_id·8+para_idx
    * (≤5 windows per ≤99-word doc, so 3 bits suffice); the oracle
    * restates the ns2 SQL over the identical window split.
    */
  val ns36ParaJaccard: Q = (s, dir) =>
    Dedup.jaccardPairs(
      Dedup.paragraphs(Tables.documents(s, dir), paraWords = 20)
        .select((col("doc_id") * 8 + col("para_idx")).as("doc_id"),
          col("para").as("text")),
      n = 3, threshold = 0.5)
      .orderBy(col("i"), col("j"))

  val ns36ParaJaccardSql: String =
    s"""WITH docs0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS w0
       |  FROM documents WHERE text IS NOT NULL
       |), pu AS (
       |  SELECT doc_id, unnest([struct_pack(i := i,
       |      p := array_to_string(w0[(i*20+1):(i*20+20)], ' '))
       |    FOR i IN range(0, CAST(ceil(len(w0)/20.0) AS BIGINT))]) AS u
       |  FROM docs0
       |), p2 AS (
       |  SELECT doc_id * 8 + u.i AS doc_id, string_split(u.p, ' ') AS w
       |  FROM pu
       |), sh AS (
       |  SELECT doc_id, ${duckHash60("s")} AS s
       |  FROM (SELECT doc_id,
       |      unnest(list_distinct([array_to_string(w[i:i+2], ' ')
       |        FOR i IN range(1, len(w) - 1)])) AS s
       |    FROM p2)
       |), keep AS (
       |  SELECT s, count(*) AS df FROM sh GROUP BY s
       |  HAVING count(*) <= 1000
       |), f AS (
       |  SELECT sh.doc_id, sh.s, keep.df FROM sh JOIN keep USING (s)
       |), ds AS (
       |  SELECT doc_id, count(*) AS n_sh FROM f GROUP BY doc_id
       |), p AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*)::DOUBLE AS common
       |  FROM (SELECT * FROM f WHERE df >= 2) a
       |  JOIN (SELECT * FROM f WHERE df >= 2) b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i, j,
       |  round(common / (di.n_sh + dj.n_sh - common), 6) AS jaccard
       |FROM p JOIN ds di ON di.doc_id = p.i JOIN ds dj ON dj.doc_id = p.j
       |WHERE round(common / (di.n_sh + dj.n_sh - common), 6) >= 0.5
       |ORDER BY i, j""".stripMargin

  /** RAG-style chunking: overlapping 32-token windows advancing by 24
    * (8-token overlap) over every document — the retrieval/embedding
    * prep step between cleaning and encoding. Shuffle-free single map
    * stage (Corpus.chunkTokens); the oracle restates the window
    * arithmetic with generate_series + list_slice and hashes each
    * chunk's text with the shared md5-based hash60.
    */
  val ns37Chunks: Q = (s, dir) =>
    Corpus.chunkTokens(Tables.documents(s, dir),
      chunkSize = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val ns37ChunksSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), n AS (
       |  SELECT doc_id, w,
       |    CASE WHEN len(w) <= 32 THEN 0
       |      ELSE ((len(w) - 32 + 23) - ((len(w) - 32 + 23) % 24)) // 24
       |    END AS k
       |  FROM d
       |), ch AS (
       |  SELECT doc_id, unnest(generate_series(0, k)) AS chunk_idx, w
       |  FROM n
       |)
       |SELECT doc_id, chunk_idx,
       |  len(list_slice(w, chunk_idx*24 + 1, chunk_idx*24 + 32)) AS n_tokens,
       |  ${duckHash60("array_to_string(list_slice(w, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ')")} AS chunk_hash
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  /** Quality-weighted corpus sampling without replacement: 100 docs
    * drawn with probability ∝ (n_chars + 1) by Efraimidis–Spirakis
    * A-ES over deterministic hash-uniforms (Corpus.weightedSample) —
    * reproducible across runs and engines, unlike rand(). The output
    * carries no doubles (the SELECTION is the assertion); the oracle
    * replays the identical ln(u)/w ranking and top-k.
    */
  val ns38WeightedSample: Q = (s, dir) =>
    Corpus.weightedSample(Tables.documents(s, dir), "doc_id",
      col("n_chars") + lit(1), k = 100, salt = "ws")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  val ns38WeightedSampleSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, n_chars,
       |    ln((${duckHash60("'ws:' || doc_id::VARCHAR")} + 1)
       |      / 1152921504606846976.0) / (n_chars + 1) AS k
       |  FROM documents
       |)
       |SELECT doc_id, source, n_chars FROM
       |  (SELECT * FROM scored ORDER BY k DESC, doc_id LIMIT 100)
       |ORDER BY doc_id""".stripMargin

  /** Exact-Jaccard near-dup pairs by PREFIX FILTERING
    * (SetSimJoin.prefixJaccardJoin): candidates must share one of each
    * other's rarest-(df) prefix tokens, then exact verification — no
    * df cap (ns2's approximation) and no recall loss (ns3's tradeoff).
    * The oracle is the brute restatement: join on ANY shared shingle,
    * exact Jaccard — equality proves the prefix theorem pruned only
    * sub-threshold pairs.
    */
  val ns39PrefixJoin: Q = (s, dir) =>
    SetSimJoin.prefixJaccardJoin(Tables.documents(s, dir), n = 3,
        threshold = 0.5)
      .orderBy(col("i"), col("j"))

  val ns39PrefixJoinSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${duckHash60("s")} AS h
       |  FROM (SELECT doc_id,
       |      unnest(list_distinct([array_to_string(w[i:i+2], ' ')
       |        FOR i IN range(1, len(w) - 1)])) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w
       |      FROM documents))
       |), ds AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
       |p AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*)::DOUBLE AS common
       |  FROM tok a JOIN tok b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i, j,
       |  round(common / (di.sz + dj.sz - common), 6) AS jaccard
       |FROM p JOIN ds di ON di.doc_id = p.i
       |JOIN ds dj ON dj.doc_id = p.j
       |WHERE round(common / (di.sz + dj.sz - common), 6) >= 0.5
       |ORDER BY i, j""".stripMargin

  /** Interpolated bigram-LM score (Corpus.bigramLogProb): per-doc
    * average ln(0.75·c₁₂/c₁ + 0.25·c₂/N) over bigram positions —
    * ns29's order-sensitive upgrade. λ = 0.75 keeps both λ literals
    * exact in binary so the engines' doubles agree bit-for-bit before
    * the 6-dp round.
    */
  val ns40BigramLm: Q = (s, dir) =>
    Corpus.bigramLogProb(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val ns40BigramLmSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), bg AS (
       |  SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM w
       |  WHERE len(ws) >= 2
       |), bh AS (
       |  SELECT doc_id,
       |    ${duckHash60("ws[i]")} AS h1,
       |    ${duckHash60("ws[i+1]")} AS h2,
       |    ${duckHash60("ws[i] || ' ' || ws[i+1]")} AS h12
       |  FROM bg
       |), db AS (
       |  SELECT doc_id, h1, h2, h12, count(*)::BIGINT AS k
       |  FROM bh GROUP BY 1, 2, 3, 4
       |), big AS (SELECT h12, sum(k)::BIGINT AS c12 FROM db GROUP BY 1),
       |uni AS (
       |  SELECT ${duckHash60("term")} AS h, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term
       |    FROM documents) GROUP BY 1
       |), tot AS (SELECT sum(cu)::DOUBLE AS total FROM uni)
       |SELECT doc_id, sum(k)::BIGINT AS n_bigrams,
       |  round(sum(k * ln(0.75 * c12 / c1.cu
       |    + 0.25 * c2.cu / total)) / sum(k), 6) AS lm2_score
       |FROM db JOIN big USING (h12)
       |JOIN uni c1 ON db.h1 = c1.h
       |JOIN uni c2 ON db.h2 = c2.h
       |CROSS JOIN tot
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Naive Bayes language ID (Classify.naiveBayes): multinomial NB
    * with add-one smoothing, trained on the doc_id % 5 ≠ 0 folds and
    * applied to the held-out fold. Scores round to 6 dp BEFORE the
    * argmax with a label tie-break, so the predicted label is
    * cross-engine deterministic.
    */
  val ns41NaiveBayes: Q = (s, dir) =>
    graft.ml.Classify.naiveBayes(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val ns41NaiveBayesSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, lang AS l, ${duckHash60("w")} AS h
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE w <> ''
       |), cl AS (
       |  SELECT l, h, count(*)::BIGINT AS c FROM words
       |  WHERE doc_id % 5 <> 0 GROUP BY 1, 2
       |), nl AS (SELECT l, sum(c)::BIGINT AS n_l FROM cl GROUP BY 1),
       |v AS (SELECT count(DISTINCT h)::BIGINT AS v FROM cl),
       |pri AS (
       |  SELECT lang AS l, count(*)::BIGINT AS dl FROM documents
       |  WHERE doc_id % 5 <> 0 GROUP BY 1
       |), dt AS (SELECT sum(dl)::BIGINT AS dt FROM pri),
       |labels AS (
       |  SELECT pri.l, dl, n_l, v, dt
       |  FROM pri JOIN nl ON pri.l = nl.l CROSS JOIN v CROSS JOIN dt
       |), dw AS (
       |  SELECT doc_id, h, count(*)::BIGINT AS k FROM words
       |  WHERE doc_id % 5 = 0 GROUP BY 1, 2
       |), scored AS (
       |  SELECT dw.doc_id, lb.l,
       |    round(ln(dl::DOUBLE / dt::DOUBLE) +
       |      sum(k * ln((coalesce(c, 0) + 1)::DOUBLE /
       |        (n_l + v)::DOUBLE)), 6) AS score
       |  FROM dw CROSS JOIN labels lb
       |  LEFT JOIN cl ON cl.l = lb.l AND cl.h = dw.h
       |  GROUP BY dw.doc_id, lb.l, dl, dt, n_l, v
       |), best AS (
       |  SELECT doc_id, l, score, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, l) AS rk
       |  FROM scored
       |)
       |SELECT b.doc_id, d.lang AS actual, b.l AS predicted, b.score,
       |  CASE WHEN b.l = d.lang THEN 1 ELSE 0 END AS hit
       |FROM best b JOIN documents d ON b.doc_id = d.doc_id
       |WHERE rk = 1 ORDER BY b.doc_id""".stripMargin

  /** BPE vocabulary training (Bpe.learn): the rank-ordered merge
    * table learned from the corpus word-frequency table. The
    * iterative argmax is not SQL-expressible, so this entry is
    * rows-gated; the exactness gate is BpeSpec's independent naive
    * BPE equality, and determinism comes from the (count desc, left,
    * right) tie-break.
    */
  val ns42Bpe: Q = (s, dir) =>
    Bpe.learn(Tables.documents(s, dir), 20).orderBy(col("rank"))

  /** ns42 graduated from rows-only to the pinned-fit hash gate (the
    * ns8b discipline's last step): the iterative argmax still cannot
    * RESTATE in SQL, but its output is deterministic (the
    * (count desc, left, right) tie-break), so the oracle IS the
    * pinned sf0.01 merge table — a fit change (ranks, pairs, or
    * counts) now hash-fails instead of hiding behind a row count,
    * and the SEMANTIC gate lives in ns42b (the segmentation chain
    * over these merges restated computationally) plus BpeSpec's
    * independent naive equality.
    */
  val ns42BpeSql: String = {
    val rows = FittedModels.bpeMerges
      .zip(FittedModels.bpeMergeCounts).zipWithIndex
      .map { case (((l, r), c), i) =>
        s"($i::BIGINT, '$l', '$r', '$l$r', $c::BIGINT)" }
      .mkString(",\n  ")
    s"""SELECT * FROM (VALUES
      |  $rows) t("rank", "left", "right", merged, pair_count)
      |ORDER BY "rank"""".stripMargin
  }

  /** BPE SERVING chain, hash-gated (the ns8b fitted-literals
    * graduation applied to ns42): learn the merge table fresh, then
    * [[Bpe.segment]] the corpus with it — fit → tokenize end to end.
    * The oracle pins the sf0.01 merge table
    * ([[FittedModels.bpeMerges]]) and restates segmentation with one
    * literal replace() per merge rank over a DOUBLED-separator symbol
    * string: BPE's leftmost non-overlapping merge shares its boundary
    * space with the next match (the engine's `(?= )` lookahead), and
    * doubling every separator gives each boundary one space per
    * neighbor, so plain left-to-right replace() — which CONSUMES its
    * match — implements exactly the lookahead semantics. A fit change
    * (different merges at sf0.01) now fails this gate loudly, and the
    * segmentation itself is cross-engine-proven rather than only
    * spec-pinned.
    */
  val ns42bBpeSegment: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.learn(docs, 20).orderBy(col("rank"))
      .select(col("left"), col("right")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    Bpe.segment(docs, merges)
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("toks"))
      .orderBy(col("doc_id"))
  }

  val ns42bBpeSegmentSql: String = {
    // '  a  b  c  ' — every separator doubled, then one consuming
    // replace per merge rank, pinned from the sf0.01 fit
    val base = "'  ' || array_to_string(" +
      "[w[i] FOR i IN range(1, len(w) + 1)], '  ') || '  '"
    val chain = FittedModels.bpeMerges.foldLeft(base) {
      case (acc, (l, r)) => s"replace($acc, ' $l  $r ', ' $l$r ')"
    }
    s"""SELECT doc_id, len(flat)::INT AS n_tokens,
      |  array_to_string(flat, ' ') AS toks
      |FROM (
      |  SELECT doc_id,
      |    flatten([string_split(trim($chain), '  ')
      |             FOR w IN string_split(text, ' ') IF len(w) > 0])
      |      AS flat
      |  FROM documents WHERE text IS NOT NULL)
      |WHERE len(flat) > 0
      |ORDER BY doc_id""".stripMargin
  }

  /** PMI collocation mining (Corpus.collocations): bigram pairs ≥ 25
    * occurrences with ln-space pointwise mutual information — the
    * word2phrase step before tokenizer training. The log-sum form and
    * identical left-assoc arithmetic keep the doubles bit-equal
    * across engines before the 6-dp round.
    */
  val ns43Collocations: Q = (s, dir) =>
    Corpus.collocations(Tables.documents(s, dir), minCount = 25L)
      .orderBy(col("w1"), col("w2"))

  val ns43CollocationsSql: String =
    """WITH w AS (
      |  SELECT string_split(text, ' ') AS ws FROM documents
      |), bg AS (
      |  SELECT ws[i] AS w1, ws[i+1] AS w2
      |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
      |        WHERE len(ws) >= 2)
      |), big AS (
      |  SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2
      |), uni AS (
      |  SELECT w, count(*)::BIGINT AS cu
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents) GROUP BY 1
      |), nb AS (SELECT sum(c12)::BIGINT AS nb FROM big),
      |nu AS (SELECT sum(cu)::BIGINT AS nu FROM uni)
      |SELECT big.w1, big.w2, c12, u1.cu AS c1, u2.cu AS c2,
      |  round(ln(c12::DOUBLE) - ln(nb::DOUBLE) - ln(u1.cu::DOUBLE)
      |    - ln(u2.cu::DOUBLE) + 2.0 * ln(nu::DOUBLE), 6) AS pmi
      |FROM big JOIN uni u1 ON big.w1 = u1.w
      |JOIN uni u2 ON big.w2 = u2.w
      |CROSS JOIN nb CROSS JOIN nu
      |WHERE c12 >= 25 ORDER BY w1, w2""".stripMargin

  /** Unigram-LM quality score (perplexity proxy): per-doc average
    * ln p(term) under the corpus's own unigram distribution. Both
    * engines hash terms to 60-bit longs and sum k·ln(cnt/N) in
    * doubles; the 6-decimal round absorbs summation-order jitter.
    */
  val ns29LmScore: Q = (s, dir) =>
    Corpus.unigramLogProb(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val ns29LmScoreSql: String =
    s"""WITH th AS (
       |  SELECT doc_id, ${duckHash60("term")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents)
       |), dt AS (
       |  SELECT doc_id, h, count(*) AS k FROM th GROUP BY 1, 2
       |), freq AS (
       |  SELECT h, sum(k)::BIGINT AS cnt FROM dt GROUP BY 1
       |), tot AS (
       |  SELECT sum(cnt)::DOUBLE AS total FROM freq
       |)
       |SELECT doc_id, sum(k)::BIGINT AS n_tokens,
       |  round(sum(k * ln(cnt::DOUBLE / total)) / sum(k)::DOUBLE, 6)
       |    AS lm_score
       |FROM dt JOIN freq USING (h) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-budget corpus selection composed on the ns29 score: keep
    * the best-scoring docs whose cumulative token count fits 8000 —
    * the greedy data-selection step. The oracle states the naive
    * global-window prefix; the engine computes it bucketed
    * (bit-identical), so the gate proves the decomposition.
    */
  val ns31BudgetSelect: Q = (s, dir) =>
    Corpus.budgetSelect(
      Corpus.unigramLogProb(Tables.documents(s, dir)),
      "lm_score", "n_tokens", "doc_id", budget = 8000L)
      .select(col("doc_id"), col("n_tokens"), col("lm_score"),
        col("cum_cost"))
      .orderBy(col("doc_id"))

  val ns31BudgetSelectSql: String =
    s"""WITH th AS (
       |  SELECT doc_id, ${duckHash60("term")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents)
       |), dt AS (
       |  SELECT doc_id, h, count(*) AS k FROM th GROUP BY 1, 2
       |), freq AS (
       |  SELECT h, sum(k)::BIGINT AS cnt FROM dt GROUP BY 1
       |), tot AS (
       |  SELECT sum(cnt)::DOUBLE AS total FROM freq
       |), scored AS (
       |  SELECT doc_id, sum(k)::BIGINT AS n_tokens,
       |    round(sum(k * ln(cnt::DOUBLE / total)) / sum(k)::DOUBLE, 6)
       |      AS lm_score
       |  FROM dt JOIN freq USING (h) CROSS JOIN tot GROUP BY doc_id
       |), ord AS (
       |  SELECT doc_id, n_tokens, lm_score,
       |    sum(n_tokens) OVER (
       |      ORDER BY lm_score DESC, ${duckHash60("doc_id::VARCHAR")},
       |        doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cost
       |  FROM scored
       |)
       |SELECT doc_id, n_tokens, lm_score, cum_cost
       |FROM ord WHERE cum_cost <= 8000 ORDER BY doc_id""".stripMargin

  /** Unicode NFC normalization via the native `graft_nfc` codegen
    * expression. The synthetic corpus is ASCII (NFC-invariant), so a
    * denormalized suffix — "cafe" + COMBINING ACUTE (5 codepoints,
    * folds to 4) next to precomposed "café" (stays 4) — is planted on
    * every row: the hash gate then proves real normalization, not an
    * identity pass. Lengths count codepoints in both engines.
    */
  val ns32Normalize: Q = (s, dir) => {
    graft.functions.GraftExtensions.register(s)
    Tables.documents(s, dir)
      .withColumn("raw",
        concat(col("text"), lit(" cafe\u0301 caf\u00e9")))
      .withColumn("norm_text", graft.functions.NfcNormalize(col("raw")))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("norm_text")).cast("long").as("n_norm"),
        col("norm_text"))
      .orderBy(col("doc_id"))
  }

  val ns32NormalizeSql: String =
    """SELECT doc_id,
      |  length(text || ' cafe' || chr(769) || ' caf' || chr(233)) AS n_raw,
      |  length(nfc_normalize(text || ' cafe' || chr(769) || ' caf' || chr(233))) AS n_norm,
      |  nfc_normalize(text || ' cafe' || chr(769) || ' caf' || chr(233)) AS norm_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality-decile labeling on the ns29 score: exact global ntile(10)
    * computed bucketed (no single-task global sort), gated against
    * DuckDB's ntile window — the oracle states the naive global
    * window, the engine proves the decomposition.
    */
  val ns33Ntile: Q = (s, dir) =>
    Corpus.ntileByScore(
      Corpus.unigramLogProb(Tables.documents(s, dir)),
      "lm_score", "doc_id", tiles = 10)
      .select(col("doc_id"), col("lm_score"), col("tile"))
      .orderBy(col("doc_id"))

  val ns33NtileSql: String =
    s"""WITH th AS (
       |  SELECT doc_id, ${duckHash60("term")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents)
       |), dt AS (
       |  SELECT doc_id, h, count(*) AS k FROM th GROUP BY 1, 2
       |), freq AS (
       |  SELECT h, sum(k)::BIGINT AS cnt FROM dt GROUP BY 1
       |), tot AS (
       |  SELECT sum(cnt)::DOUBLE AS total FROM freq
       |), scored AS (
       |  SELECT doc_id,
       |    round(sum(k * ln(cnt::DOUBLE / total)) / sum(k)::DOUBLE, 6)
       |      AS lm_score
       |  FROM dt JOIN freq USING (h) CROSS JOIN tot GROUP BY doc_id
       |)
       |SELECT doc_id, lm_score,
       |  ntile(10) OVER (ORDER BY lm_score DESC,
       |    ${duckHash60("doc_id::VARCHAR")}, doc_id)::INT AS tile
       |FROM scored ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary: top-200 terms by document frequency (the
    * tokenizer-training / stopword-induction input). TakeOrdered
    * top-k, full (df, total, term) tiebreak, re-sorted by term for the
    * gate's deterministic ORDER BY.
    */
  val ns24Vocab: Q = (s, dir) =>
    Corpus.vocabulary(Tables.documents(s, dir), limit = 200)
      .orderBy(col("term"))

  val ns24VocabSql: String =
    """SELECT term, df, total FROM (
      |  SELECT term, count(DISTINCT doc_id) AS df, count(*)::BIGINT AS total
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY term
      |  ORDER BY df DESC, total DESC, term LIMIT 200
      |) ORDER BY term""".stripMargin

  /** The space-saving sketch's CORRECTNESS gate: with capacity ≥ the
    * true distinct-term count the sketch is EXACT, so this registered
    * form is hash-compared against the same oracle as ns24 (capacity
    * 4096 ≫ the synthetic vocabulary). To satisfy that oracle it must
    * rank by the exact df, so THIS plan still runs the exact term
    * aggregation — it gates the sketch, it is not the sketch's scale
    * deployment. At scale the sketch runs ALONE (count-ranked, no
    * exact pass, O(partitions·capacity) shuffle) — that approximate
    * regime and its bounds are property-tested in CorpusSpec.
    */
  val ns24bVocabSketch: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val sk = Corpus.vocabularySketch(docs, topK = 4096, capacity = 4096)
      .select(col("term"), col("est_count").as("total"))
    // df (document frequency) comes from an exact pass — the sketch
    // covers the count side; join keeps the output schema identical
    // to ns24 for the shared oracle
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val dfreq = tok.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    sk.join(dfreq, Seq("term"))
      .orderBy(col("df").desc, col("total").desc, col("term"))
      .limit(200)
      .select(col("term"), col("df"), col("total"))
      .orderBy(col("term"))
  }

  /** Sequence packing manifest: documents sharded by doc_id hash,
    * concat-and-chunked into 2048-token context windows per shard.
    */
  val ns25Pack: Q = (s, dir) =>
    Corpus.packSequences(Tables.documents(s, dir), ctxLen = 2048,
      shards = 8)
      .orderBy(col("shard"), col("chunk"))

  val ns25PackSql: String = {
    val h = duckHash60("doc_id::VARCHAR")
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS toks,
       |    $h % 8 AS shard
       |  FROM documents
       |), c AS (
       |  SELECT shard, doc_id, toks,
       |    sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t
       |)
       |SELECT shard, ((cum - toks) // 2048)::BIGINT AS chunk,
       |  count(*) AS n_docs, sum(toks)::BIGINT AS chunk_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2 ORDER BY shard, chunk""".stripMargin
  }

  /** Data-mixing weights for ns27 — exactly-representable halves and
    * quarters so the floor() boundaries are float-stable (the operator
    * doc explains the IEEE mirroring contract with the oracle).
    */
  private val mixtureWeights: Map[String, Double] =
    Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25)

  val ns27Mixture: Q = (s, dir) =>
    Corpus.mixtureSample(Tables.documents(s, dir), mixtureWeights)
      .orderBy(col("source"), col("rk"))

  /** Oracle generated from the SAME weights map, with the normalized
    * values embedded as double literals (::DOUBLE — a bare decimal
    * literal would be DECIMAL-typed in DuckDB and diverge from
    * Spark's double arithmetic at the floor boundaries).
    */
  val ns27MixtureSql: String = {
    val wSum = mixtureWeights.values.toSeq.sorted.sum
    val values = mixtureWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"('$s', ${w / wSum}::DOUBLE)" }.mkString(", ")
    s"""WITH w(source, w) AS (VALUES $values),
       |avail AS (
       |  -- LEFT join from the weights: a requested source with zero
       |  -- docs must count 0 (drives T to 0, empty result) — mirrors
       |  -- mixtureSample's weights-side left join exactly
       |  SELECT w.source, count(d.source) AS n_available
       |  FROM w LEFT JOIN documents d USING (source) GROUP BY w.source
       |), plan AS (
       |  SELECT a.source, w.w,
       |    min(floor(a.n_available / w.w)) OVER () AS t
       |  FROM avail a JOIN w USING (source)
       |), tgt AS (
       |  SELECT source, CAST(floor(w * t) AS BIGINT) AS n_target FROM plan
       |)
       |SELECT doc_id, source, rk FROM (
       |  SELECT d.doc_id, d.source,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY ${duckHash60("d.doc_id::VARCHAR")}, d.doc_id) AS rk,
       |    g.n_target
       |  FROM documents d JOIN tgt g USING (source))
       |WHERE rk <= n_target
       |ORDER BY source, rk""".stripMargin
  }

  /** Temperature-weighted mixture with up-sampling
    * ([[Corpus.temperatureMixture]], α = 0.5, budget = 800): the
    * fixture's uniform sources are regrouped into a skewed
    * rare/mid/common tiering (2% / 18% / 80% of docs at sf0.01) so
    * the α-flattening actually differentiates — √-weights lift the
    * rare tier to ~10% of the budget, which exceeds its doc count and
    * forces multiple full epochs plus a hash-ranked partial epoch.
    * The oracle restates weights (pow + 9 dp round), floor targets,
    * integer epoch split, the lateral epoch explode, and the partial
    * pass's md5-hash rank — so the repetition manifest is hash-gated
    * end to end.
    */
  val ns54TemperatureMix: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 0, lit("rare"))
          .when(col("doc_id") % 5 === 0, lit("mid"))
          .otherwise(lit("common")).as("source"))
    Corpus.temperatureMixture(docs, alpha = 0.5, budget = 800L)
      .orderBy(col("source"), col("epoch"), col("doc_id"))
  }

  val ns54TemperatureMixSql: String =
    s"""WITH src AS (
      |  SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN 'rare'
      |    WHEN doc_id % 5 = 0 THEN 'mid' ELSE 'common' END AS source
      |  FROM documents
      |), counts AS (
      |  SELECT source, count(*)::BIGINT AS n FROM src GROUP BY 1
      |), plan AS (
      |  SELECT source, n,
      |    CAST(floor(round(pow(n, 0.5) / sum(pow(n, 0.5)) OVER (), 9)
      |      * 800) AS BIGINT) AS tgt
      |  FROM counts
      |), p2 AS (
      |  SELECT source, n, tgt, tgt // n AS fe, tgt % n AS rem FROM plan
      |), fullp AS (
      |  SELECT d.doc_id, d.source, unnest(range(0, p.fe)) AS epoch
      |  FROM src d JOIN p2 p USING (source)
      |), remp AS (
      |  SELECT doc_id, source, fe AS epoch FROM (
      |    SELECT d.doc_id, d.source, p.fe, p.rem,
      |      row_number() OVER (PARTITION BY d.source
      |        ORDER BY ${duckHash60("d.doc_id::VARCHAR")}, d.doc_id) AS rk
      |    FROM src d JOIN p2 p USING (source)) WHERE rk <= rem
      |)
      |SELECT doc_id, source, epoch FROM fullp
      |UNION ALL SELECT doc_id, source, epoch FROM remp
      |ORDER BY source, epoch, doc_id""".stripMargin

  /** Per-epoch shuffled training order over ns54's repetition
    * manifest: each epoch of the temperature mixture gets its own
    * independent deterministic permutation (epoch inside the hash).
    * The oracle restates ns54's manifest CTEs and the naive
    * per-epoch window the bucket machinery is bit-identical to.
    */
  val ns60EpochOrder: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 0, lit("rare"))
          .when(col("doc_id") % 5 === 0, lit("mid"))
          .otherwise(lit("common")).as("source"))
    Corpus.epochOrder(
      Corpus.temperatureMixture(docs, alpha = 0.5, budget = 800L),
      seed = "run1")
      .orderBy(col("epoch"), col("position"))
  }

  val ns60EpochOrderSql: String = {
    val h = duckHash60(
      "'run1|' || epoch::VARCHAR || '|' || doc_id::VARCHAR")
    s"""WITH src AS (
      |  SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN 'rare'
      |    WHEN doc_id % 5 = 0 THEN 'mid' ELSE 'common' END AS source
      |  FROM documents
      |), counts AS (
      |  SELECT source, count(*)::BIGINT AS n FROM src GROUP BY 1
      |), plan AS (
      |  SELECT source, n,
      |    CAST(floor(round(pow(n, 0.5) / sum(pow(n, 0.5)) OVER (), 9)
      |      * 800) AS BIGINT) AS tgt
      |  FROM counts
      |), p2 AS (
      |  SELECT source, n, tgt, tgt // n AS fe, tgt % n AS rem FROM plan
      |), fullp AS (
      |  SELECT d.doc_id, d.source, unnest(range(0, p.fe)) AS epoch
      |  FROM src d JOIN p2 p USING (source)
      |), remp AS (
      |  SELECT doc_id, source, fe AS epoch FROM (
      |    SELECT d.doc_id, d.source, p.fe, p.rem,
      |      row_number() OVER (PARTITION BY d.source
      |        ORDER BY ${duckHash60("d.doc_id::VARCHAR")}, d.doc_id) AS rk
      |    FROM src d JOIN p2 p USING (source)) WHERE rk <= rem
      |), manifest AS (
      |  SELECT doc_id, source, epoch FROM fullp
      |  UNION ALL SELECT doc_id, source, epoch FROM remp
      |)
      |SELECT doc_id, source, epoch,
      |  row_number() OVER (PARTITION BY epoch ORDER BY $h,
      |    'run1|' || epoch::VARCHAR || '|' || doc_id::VARCHAR)
      |    AS position
      |FROM manifest ORDER BY epoch, position""".stripMargin
  }

  /** The end-to-end training-data-export capstone: temperature
    * mixture (ns54) → per-epoch deterministic shuffle (ns60) →
    * context-window packing over the shuffled stream, as ONE plan —
    * the chain a training loader actually consumes, gated whole the
    * way ns22 gates corpus prep. The oracle restates all three stages
    * as chained CTEs (ns60's manifest + ordering verbatim, then the
    * ns25 pack discipline keyed on (epoch, position) instead of
    * (shard, doc_id)). blockSize = 64 forces the multi-block
    * prefix-sum decomposition at sf0.01, so the gate covers the scale
    * plan, not the trivial one-block case.
    */
  val ns64TrainExport: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val tiered = docs.select(col("doc_id"),
      when(col("doc_id") % 50 === 0, lit("rare"))
        .when(col("doc_id") % 5 === 0, lit("mid"))
        .otherwise(lit("common")).as("source"))
    Corpus.packEpochs(
      Corpus.epochOrder(
        Corpus.temperatureMixture(tiered, alpha = 0.5, budget = 800L),
        seed = "run1"),
      docs, ctxLen = 512, blockSize = 64L)
      .orderBy(col("epoch"), col("chunk"))
  }

  val ns64TrainExportSql: String = {
    val h = duckHash60(
      "'run1|' || epoch::VARCHAR || '|' || doc_id::VARCHAR")
    s"""WITH src AS (
      |  SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN 'rare'
      |    WHEN doc_id % 5 = 0 THEN 'mid' ELSE 'common' END AS source
      |  FROM documents
      |), counts AS (
      |  SELECT source, count(*)::BIGINT AS n FROM src GROUP BY 1
      |), plan AS (
      |  SELECT source, n,
      |    CAST(floor(round(pow(n, 0.5) / sum(pow(n, 0.5)) OVER (), 9)
      |      * 800) AS BIGINT) AS tgt
      |  FROM counts
      |), p2 AS (
      |  SELECT source, n, tgt, tgt // n AS fe, tgt % n AS rem FROM plan
      |), fullp AS (
      |  SELECT d.doc_id, d.source, unnest(range(0, p.fe)) AS epoch
      |  FROM src d JOIN p2 p USING (source)
      |), remp AS (
      |  SELECT doc_id, source, fe AS epoch FROM (
      |    SELECT d.doc_id, d.source, p.fe, p.rem,
      |      row_number() OVER (PARTITION BY d.source
      |        ORDER BY ${duckHash60("d.doc_id::VARCHAR")}, d.doc_id) AS rk
      |    FROM src d JOIN p2 p USING (source)) WHERE rk <= rem
      |), manifest AS (
      |  SELECT doc_id, source, epoch FROM fullp
      |  UNION ALL SELECT doc_id, source, epoch FROM remp
      |), ordered AS (
      |  SELECT doc_id, epoch,
      |    row_number() OVER (PARTITION BY epoch ORDER BY $h,
      |      'run1|' || epoch::VARCHAR || '|' || doc_id::VARCHAR)
      |      AS position
      |  FROM manifest
      |), toks AS (
      |  SELECT o.epoch, o.position,
      |    len(string_split(d.text, ' '))::BIGINT AS toks
      |  FROM ordered o JOIN documents d USING (doc_id)
      |), c AS (
      |  SELECT epoch, position, toks,
      |    sum(toks) OVER (PARTITION BY epoch ORDER BY position
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM toks
      |)
      |SELECT epoch, ((cum - toks) // 512)::BIGINT AS chunk,
      |  count(*) AS n_docs, sum(toks)::BIGINT AS chunk_tokens,
      |  min(position) AS first_pos, max(position) AS last_pos
      |FROM c GROUP BY 1, 2 ORDER BY epoch, chunk""".stripMargin
  }

  /** Bottom-k mergeable uniform sample: the 50 docs with the smallest
    * hash60(seed|id) — the stable eval/debug slice. ns61b maintains
    * the same sample INCREMENTALLY (state from 3/4 of the corpus,
    * one merge with the final quarter) and gates on the identical
    * from-scratch oracle — the mergeability proof, driver-checked.
    */
  val ns61BottomkSample: Q = (s, dir) =>
    Corpus.bottomKSample(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", k = 50, seed = "eval0")
      .orderBy(col("doc_id"))

  val ns61BottomkSampleSql: String = {
    val h = duckHash60("'eval0|' || doc_id::VARCHAR")
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (ORDER BY $h, doc_id) AS rk
       |  FROM documents) WHERE rk <= 50
       |ORDER BY doc_id""".stripMargin
  }

  val ns61bBottomkMerged: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val n = docs.count()
    val cut = 3 * n / 4
    val state = Corpus.bottomKSample(
      docs.filter(col("doc_id") < cut), "doc_id", 50, "eval0")
    Corpus.mergeBottomK(state, docs.filter(col("doc_id") >= cut),
      "doc_id", 50, "eval0")
      .orderBy(col("doc_id"))
  }

  /** Per-user training sequences (the SASRec-style input builder):
    * each user's last 20 events in time order — the type-sequence
    * string, coverage counts, and the sorted-fold value sum.
    */
  val ns62UserHistories: Q = (s, dir) =>
    Corpus.userHistories(Tables.events(s, dir), maxLen = 20)
      .orderBy(col("user_id"))

  val ns62UserHistoriesSql: String =
    """WITH ranked AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_total
      |  FROM events
      |)
      |SELECT user_id, max(n_total) AS n_total, count(*) AS n_kept,
      |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS hist,
      |  round(list_reduce(list_prepend(0.0::DOUBLE,
      |    list(value ORDER BY ts, event_id)), (a, b) -> a + b), 6)
      |    AS window_value
      |FROM ranked WHERE rn <= 20
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** BPR-style negative sampling over the order/lineitem implicit-
    * feedback matrix: per sampled customer, 5 parts they never
    * bought, drawn deterministically by seeded hash with collision
    * dedup and interaction anti-join.
    */
  val ns63NegativeSamples: Q = (s, dir) => {
    val inter = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"),
        col("l_partkey").as("item_id")).distinct()
    val users = inter.select(col("user_id")).distinct()
      .filter(col("user_id") % 10 === 0)
    val itemMax = Tables.part(s, dir)
      .agg(max(col("p_partkey")).as("item_max"))
    Corpus.negativeSamples(inter, users, itemMax, k = 5,
      oversample = 3, seed = "neg0")
      .orderBy(col("user_id"), col("rk"))
  }

  val ns63NegativeSamplesSql: String = {
    val h = duckHash60(
      "'neg0|' || user_id::VARCHAR || '|' || slot::VARCHAR")
    s"""WITH inter AS (
       |  SELECT DISTINCT o.o_custkey AS user_id,
       |    l.l_partkey AS item_id
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |), u AS (
       |  SELECT DISTINCT user_id FROM inter WHERE user_id % 10 = 0
       |), p AS (
       |  SELECT max(p_partkey) AS item_max FROM part
       |), slots AS (
       |  SELECT user_id, unnest(generate_series(1, 15)) AS slot FROM u
       |), cand AS (
       |  SELECT user_id, slot, ($h % item_max) + 1 AS item_id
       |  FROM slots, p
       |), ded AS (
       |  SELECT user_id, slot, item_id FROM (
       |    SELECT user_id, slot, item_id, row_number() OVER (
       |      PARTITION BY user_id, item_id ORDER BY slot) AS dup
       |    FROM cand) WHERE dup = 1
       |), neg AS (
       |  SELECT d.user_id, d.slot, d.item_id FROM ded d
       |  ANTI JOIN inter i
       |    ON d.user_id = i.user_id AND d.item_id = i.item_id
       |)
       |SELECT user_id, rk, item_id FROM (
       |  SELECT user_id, item_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY slot) AS rk
       |  FROM neg) WHERE rk <= 5
       |ORDER BY user_id, rk""".stripMargin
  }

  /** The capstone: a full training-corpus prep pipeline in ONE plan —
    * quality gate (length) → language gate (predicted en) → MinHash
    * near-dup clustering with canonical-survivor selection → split
    * assignment → per-split corpus stats. Composes the individually
    * oracle-checked operators; the oracle re-states the whole pipeline
    * in SQL (recursive CTE for the clustering step).
    */
  val ns22CorpusPrep: Q = (s, dir) => {
    // The quality+language gate (stopword-scan CASE over every word) is
    // the expensive scan of this pipeline, and it fans out into THREE
    // consumers — the pair generator, every clusters() propagation
    // round, and the final semi-join. localCheckpoint materializes the
    // gated corpus once (doc_id + text only) so each consumer reads the
    // checkpointed blocks instead of re-running the gate from parquet;
    // on a cluster this is a cached intermediate table.
    // widenIfStarved: the langId CASE scans every word of every doc,
    // but the documents file is byte-small — the gate ran in ONE task
    // (measured 0.8 s single-task checkpoint job); no-op at scale
    val filtered = Materialize.cut(
      Materialize.widenIfStarved(Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("n_chars")))
        .filter(col("n_chars") >= 200 &&
          TextAnalysis.langId(col("text")) === "en")
        .select(col("doc_id"), col("text")))
    val pairs = Dedup.minhashPairs(filtered, n = 3, k = 16, bands = 4,
      threshold = 0.5)
    val canonical = Dedup.clusters(filtered, pairs)
      .filter(col("doc_id") === col("cluster_id"))
    filtered.join(canonical.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        TextAnalysis.splitAssign(col("doc_id")).as("split"),
        size(split(col("text"), " ")).as("toks"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"))
  }

  val ns22CorpusPrepSql: String = {
    val h = duckHash60("doc_id::VARCHAR")
    s"""WITH RECURSIVE filtered AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE n_chars >= 200 AND ($duckLangCase) = 'en'
       |), ${minhashCteBody("filtered")},
       |pairs AS (
       |  SELECT i, j FROM verified
       |  WHERE round(common / (ni + nj - common), 6) >= 0.5
       |), edges AS (
       |  SELECT i AS a, j AS b FROM pairs
       |  UNION ALL SELECT j AS a, i AS b FROM pairs
       |), reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM filtered
       |  UNION
       |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
       |), canonical AS (
       |  SELECT node AS doc_id FROM reach
       |  GROUP BY node HAVING node = min(lab)
       |)
       |SELECT
       |  CASE WHEN $h % 100 < 90 THEN 'train'
       |    WHEN $h % 100 < 95 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |  min(doc_id) AS first_doc
       |FROM filtered JOIN canonical USING (doc_id)
       |GROUP BY 1 ORDER BY split""".stripMargin
  }

  /** Corpus-release manifest — the second capstone, over the corpus
    * operators the first (ns22) doesn't touch: drop docs contaminated
    * by the benchmark slice (4-gram overlap), collapse exact
    * duplicates to their canonical min-doc_id survivor, keep the
    * train split, and emit the packed context-window manifest. One
    * declarative plan; the oracle restates the whole chain.
    */
  val ns26Release: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val contaminated = Corpus.contamination(
      train = docs.filter(col("doc_id") % 97 =!= 0),
      eval = docs.filter(col("doc_id") % 97 === 0), n = 4)
      .select("doc_id")
    val clean = docs.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val canonical = Dedup.exact(clean)
      .select(col("canonical_doc_id").as("doc_id"))
    val train = clean.join(canonical, Seq("doc_id"), "left_semi")
      .filter(TextAnalysis.splitAssign(col("doc_id")) === "train")
    Corpus.packSequences(train, ctxLen = 2048, shards = 8)
      .orderBy(col("shard"), col("chunk"))
  }

  val ns26ReleaseSql: String = {
    val h = duckHash60("doc_id::VARCHAR")
    s"""WITH th AS (
       |  SELECT doc_id, ${duckHash60("s")} AS hsh
       |  FROM (SELECT doc_id,
       |      unnest(list_distinct([array_to_string(w[i:i+3], ' ') FOR i IN range(1, len(w) - 2)])) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w
       |      FROM documents WHERE doc_id % 97 <> 0))
       |), ev AS (
       |  SELECT DISTINCT ${duckHash60("s")} AS hsh
       |  FROM (SELECT unnest(list_distinct([array_to_string(w[i:i+3], ' ') FOR i IN range(1, len(w) - 2)])) AS s
       |    FROM (SELECT string_split(text, ' ') AS w
       |      FROM documents WHERE doc_id % 97 = 0))
       |), contaminated AS (
       |  SELECT DISTINCT doc_id FROM th JOIN ev USING (hsh)
       |), clean AS (
       |  SELECT * FROM documents WHERE doc_id % 97 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |), canonical AS (
       |  SELECT min(doc_id) AS doc_id FROM clean
       |  GROUP BY ${duckHash60("text")}
       |), train AS (
       |  SELECT c.doc_id, len(string_split(c.text, ' ')) AS toks,
       |    $h % 8 AS shard
       |  FROM clean c JOIN canonical USING (doc_id)
       |  WHERE $h % 100 < 90
       |), cum AS (
       |  SELECT shard, doc_id, toks,
       |    sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM train
       |)
       |SELECT shard, ((cum - toks) // 2048)::BIGINT AS chunk,
       |  count(*) AS n_docs, sum(toks)::BIGINT AS chunk_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum GROUP BY 1, 2 ORDER BY shard, chunk""".stripMargin
  }

  // --------------------------------------- ns46 BM25 lexical retrieval

  /** Okapi BM25 top-5 retrieval ([[graft.ml.Retrieval.bm25TopK]]):
    * every 50th document becomes a query (its first four words,
    * deduplicated), run against the whole corpus — the inverted-index
    * lexical tier next to the embedding-space ANN family. The oracle
    * restates the full pipeline (tokenize → tf/dl/df → the BM25
    * closed form → rank) with scores rounded to 6 dp BEFORE ranking on
    * both sides, so the top-k cut itself is hash-gated, not just the
    * score arithmetic.
    */
  val ns46Bm25: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.bm25TopK(docs, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The ns46 oracle, parameterized on the indexed-corpus predicate:
    * `TRUE` for ns46/ns46b/ns46c (full corpus; append proves
    * rebuild-equality through the same SQL), `doc_id %% 7 <> 0` for
    * ns46d (the tombstoned index must score over exactly the
    * surviving corpus — df, n_docs, avgdl and all). The query set is
    * NOT filtered: queries are external inputs, independent of what
    * the index retains.
    */
  private def bm25Sql(corpusPred: String, dfPred: String = "TRUE")
      : String =
    bm25SqlCore(corpusPred,
      s"""dfq AS (
        |  SELECT * FROM (
        |    SELECT term, count(*)::BIGINT AS df FROM tf
        |    WHERE term IN (SELECT DISTINCT term FROM qd) GROUP BY 1)
        |  WHERE $dfPred
        |)""".stripMargin)

  /** The ROUTED df block ([[Retrieval.bm25TopKAuto]]'s oracle): the
    * volume test Σ df·nq &gt; budget · n_queries restated as one
    * scalar CTE selecting the df predicate — so the routing decision
    * itself, not just the branches, is hash-proven (the ns5d
    * discipline). This fixture measures ~15.5k candidate rows
    * against a 4096/query × 10-query budget, so it routes EXACT and
    * the output equals ns46's; the Zipf corpus routes capped (the
    * skew table measures it linear).
    */
  private val bm25AutoSql: String = bm25SqlCore("TRUE",
    """dfq0 AS (
      |  SELECT term, count(*)::BIGINT AS df FROM tf
      |  WHERE term IN (SELECT DISTINCT term FROM qd) GROUP BY 1
      |), nqt AS (
      |  SELECT term, count(*)::BIGINT AS nq FROM qd GROUP BY 1
      |), cond AS (
      |  SELECT coalesce(sum(df * nq), 0) >
      |    4096 * (SELECT count(DISTINCT query_id) FROM qd) AS hot
      |  FROM dfq0 JOIN nqt USING (term)
      |), dfq AS (
      |  SELECT term, df FROM dfq0
      |  WHERE (NOT (SELECT hot FROM cond)) OR df <= 390
      |)""".stripMargin)

  private def bm25SqlCore(corpusPred: String, dfqBlock: String)
      : String =
    s"""WITH qd AS (
      |  SELECT DISTINCT doc_id AS query_id, unnest(list_slice(
      |    string_split(text, ' '), 1, 4)) AS term
      |  FROM documents WHERE doc_id % 50 = 0
      |), tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE $corpusPred
      |), tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf
      |  FROM tok GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1
      |), st AS (
      |  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
      |), $dfqBlock, sc AS (
      |  SELECT query_id, tf.doc_id,
      |    round(list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(
      |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))),
      |      (a, x) -> a + x), 6) AS score
      |  FROM qd JOIN tf USING (term) JOIN dfq USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY 1, 2
      |), rk AS (
      |  SELECT query_id, doc_id, score, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id)::INT
      |    AS rank
      |  FROM sc
      |)
      |SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  val ns46Bm25Sql: String = bm25Sql("TRUE")

  /** The stopword-cap scale tool ([[Retrieval.bm25TopK]]'s maxDf):
    * query terms with df > 390 contribute nothing — the stated
    * stopword-removal contract that bounds per-query scoring cost at
    * |terms| · maxDf rows under ANY corpus skew (the skew tier
    * measured uncapped ns46 at exp 1.83; the cap is the linear
    * tool). 390 splits this fixture's query terms (df 373–402), so
    * the contract is exercised: 11 terms capped out, 11 scored.
    * Deterministic, hence hash-gated on the same SQL with the df
    * predicate applied.
    */
  val ns46gBm25CappedDf: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.bm25TopK(docs, queries, k = 5, maxDf = 390L)
      .orderBy(col("query_id"), col("rank"))
  }

  val ns46gBm25CappedDfSql: String = bm25Sql("TRUE", "df <= 390")

  val ns46dBm25DeletedSql: String = bm25Sql("doc_id % 7 <> 0")

  // ---------------------------- ns47 prototype (centroid) embeddings

  /** Per-label mean-pooled prototype embeddings
    * ([[Similarity.centroidsByKey]]) — the Rocchio/class-prototype
    * step, gated in long form (label, pos, mean_x, n_vecs): one row
    * per coordinate, because the driver's type-sensitive hash compare
    * reds on arrow list-element NAMES (ns45's scalar-columns note),
    * and 10 labels × 64 dims in long form gates every coordinate the
    * array API returns. The engine side goes through the REAL array
    * API and unpivots with posexplode, so the gate covers
    * centroidsByKey itself, not a parallel reimplementation.
    */
  val ns47Centroids: Q = (s, dir) =>
    Similarity.centroidsByKey(
        Tables.embeddings(s, dir).withColumnRenamed("label", "key"), "key")
      .select(col("key").as("label"), col("n_vecs"),
        posexplode(col("centroid")))
      .select(col("label"), col("pos"),
        round(col("col"), 6).as("mean_x"), col("n_vecs"))
      .orderBy(col("label"), col("pos"))

  val ns47CentroidsSql: String =
    """SELECT label, (i - 1)::INT AS pos,
      |  round(avg(embedding[i]::DOUBLE), 6) AS mean_x,
      |  count(*)::BIGINT AS n_vecs
      |FROM embeddings, generate_series(1, 64) AS gs(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ns46's serving path: the same queries answered from a PERSISTED
    * term-bucketed inverted index ([[Retrieval.writeBm25Index]] /
    * `queryBm25Index`) — scoring reads only the `bkt=` directories the
    * query terms hash into (RetrievalSpec measures the directory
    * pruning). Gated on ns46's own oracle SQL: the output contract is
    * identical, so hash-equality proves the served path end to end —
    * the q6b/ns7b same-oracle discipline.
    */
  val ns46bBm25Served: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index")
    if (ivfIndexWritten.add(path))
      Retrieval.writeBm25Index(docs, path, nBuckets = 64)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25Index(s, path, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The stopword cap ON THE SERVING PATH
    * ([[Retrieval.queryBm25Index]]'s maxDf): the same persisted index
    * as ns46b, queried with df &gt; 390 terms excluded. This is the
    * tier that makes the standing index survive corpus skew — at
    * 100 TB queries hit the index, not the in-plan form, and without
    * the cap a hot term's full posting list streams out of its
    * bucket into the scoring join on every query mentioning it
    * (uncapped skew exponent 1.83 measured). Gated on ns46g's exact
    * oracle (same output contract, served plan — the ns46b
    * discipline), so hash-equality proves capped-served ==
    * capped-in-plan end to end.
    */
  val ns46hBm25ServedCapped: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index")
    if (ivfIndexWritten.add(path))
      Retrieval.writeBm25Index(docs, path, nBuckets = 64)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25Index(s, path, queries, k = 5, maxDf = 390L)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The BM25 ROUTER as the gated default
    * ([[Retrieval.bm25TopKAuto]], budget 4096 df/query, maxDf 390):
    * measures the scoring join's candidate volume Σ df·nq with one
    * bounded aggregate over the query-term-pruned df table and
    * engages the stopword cap only past the per-query budget. This
    * fixture measures ~15.5k candidate rows against a 4096 × 10
    * budget → routes EXACT, so the output equals ns46's; the Zipf
    * corpus routes capped (the skew table measures it linear vs the
    * uncapped 1.83 floor). The oracle restates the volume test
    * itself as the scalar selecting the df predicate — the ns5d
    * discipline, closing the r11 "weak" on ns46: exact is no longer
    * an unconditional default that melts the day a template token
    * goes hot.
    */
  val ns46iBm25Auto: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.bm25TopKAuto(docs, queries, k = 5, maxDf = 390L,
      budgetDfPerQuery = 4096L)
      .orderBy(col("query_id"), col("rank"))
  }

  val ns46iBm25AutoSql: String = bm25AutoSql

  /** The router ON THE SERVING PATH
    * ([[Retrieval.queryBm25IndexAuto]]): the same persisted index as
    * ns46b, with the candidate volume measured over the
    * bucket-pruned, tombstone-masked postings the scoring pass reads
    * anyway — the form that matters at 100 TB, where queries hit the
    * standing index and nobody re-derives the corpus df profile by
    * hand before choosing a cap. Gated on ns46i's exact oracle (same
    * output contract, served plan — the ns46b discipline), so
    * hash-equality proves routed-served == routed-in-plan end to
    * end.
    */
  val ns46jBm25ServedAuto: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index")
    if (ivfIndexWritten.add(path))
      Retrieval.writeBm25Index(docs, path, nBuckets = 64)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25IndexAuto(s, path, queries, k = 5, maxDf = 390L,
      budgetDfPerQuery = 4096L)
      .orderBy(col("query_id"), col("rank"))
  }

  val ns46jBm25ServedAutoSql: String = bm25AutoSql

  /** Incremental maintenance of the served BM25 index: build on 3/4
    * of the corpus, [[Retrieval.appendBm25Index]] the remaining
    * quarter (postings hashed with the STORED bucket count, untouched
    * buckets keep their files — RetrievalSpec measures that), then
    * serve the union. Gated on ns46's oracle again: df and the
    * scoring scalars derive from the stored tables at query time, so
    * the appended index must answer EXACTLY like the from-scratch
    * one — the ns8e discipline for the lexical tier.
    */
  val ns46cBm25Appended: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index_inc")
    if (ivfIndexWritten.add(path)) {
      Retrieval.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 0),
        path, nBuckets = 64)
      Retrieval.appendBm25Index(s, docs.filter(col("doc_id") % 4 === 0),
        path)
    }
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25Index(s, path, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Tombstone deletion on the served BM25 index
    * ([[Retrieval.deleteBm25Docs]]): build on the full corpus,
    * soft-delete every 7th document, serve the same query set. Gated
    * on the ns46 oracle with the corpus predicate `doc_id %% 7 <> 0` —
    * hash-equality proves the tombstoned index scores over exactly
    * the surviving corpus (df, n_docs, avgdl re-derived), i.e.
    * answers identically to a from-scratch build without the deleted
    * docs, while every posting file stays byte-identical
    * (RetrievalSpec measures that).
    */
  val ns46dBm25Deleted: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index_del")
    if (ivfIndexWritten.add(path)) {
      Retrieval.writeBm25Index(docs, path, nBuckets = 64)
      Retrieval.deleteBm25Docs(s,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")), path)
    }
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25Index(s, path, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ns46d's debt-reclaim step ([[Retrieval.compactBm25Index]]): same
    * build + delete, then COMPACT — dirty buckets rewritten, the
    * doc-length sibling swapped without the dead rows, tombstones
    * dropped — and serve. Gated on ns46d's exact oracle: compaction
    * must be invisible to queries; RetrievalSpec pins the physical
    * claims.
    */
  val ns46eBm25Compacted: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index_cmp")
    if (ivfIndexWritten.add(path)) {
      Retrieval.writeBm25Index(docs, path, nBuckets = 64)
      Retrieval.deleteBm25Docs(s,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")), path)
      Retrieval.compactBm25Index(s, path)
    }
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25Index(s, path, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The lexical fold lifecycle ([[Retrieval.foldStreamIntoBm25Index]],
    * the ns8h discipline for BM25): build on 3/4, stream the quarter
    * in as two committed batches (Bm25Ingest.ingestBatch — postings
    * AND doc lengths), soft-delete every 7th doc (some streamed),
    * fold, compact (permitted only after the fold), serve. Gated on
    * the ns46d oracle: the folded-then-compacted index must score
    * exactly like a from-scratch build of the surviving corpus — df,
    * n_docs, avgdl all re-derived over base+folded docs.
    */
  val ns46fBm25Folded: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "bm25_index_fld")
    if (ivfIndexWritten.add(path)) {
      Retrieval.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 0),
        path, nBuckets = 64)
      graft.streaming.Bm25Ingest.ingestBatch(
        docs.filter(col("doc_id") % 8 === 0), 0L, path)
      graft.streaming.Bm25Ingest.ingestBatch(
        docs.filter(col("doc_id") % 8 === 4), 1L, path)
      Retrieval.deleteBm25Docs(s,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")), path)
      Retrieval.foldStreamIntoBm25Index(s, path)
      Retrieval.compactBm25Index(s, path)
    }
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    Retrieval.queryBm25Index(s, path, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  // ----------------------- ns48 nearest-centroid (Rocchio) classifier

  /** Nearest-centroid classification on a vec_id % 5 holdout
    * ([[graft.ml.Classify.nearestCentroid]]): ns47's prototypes put to
    * work — fit on the train split, cosine-argmax each held-out vector,
    * gate the confusion matrix (true_label, pred_label, n, avg_cos).
    * The oracle recomputes the centroids coordinate-wise, the cosines
    * with sequential list kernels, and the same rounded-argmax with
    * label tiebreak, so the whole fit→predict→evaluate pipeline is
    * hash-gated. Degenerate (zero/NaN-norm) vectors are excluded on
    * both sides — the ns6/ns7 guard.
    */
  val ns48Rocchio: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    graft.ml.Classify.nearestCentroid(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"), round(avg(col("cos")), 6).as("avg_cos"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val ns48RocchioSql: String =
    """WITH nz AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  WHERE list_sum([x * x FOR x IN embedding::DOUBLE[]]) > 0
      |    AND isfinite(list_sum([x * x FOR x IN embedding::DOUBLE[]]))
      |), tr AS (
      |  SELECT * FROM nz WHERE vec_id % 5 <> 0
      |), te AS (
      |  SELECT * FROM nz WHERE vec_id % 5 = 0
      |), m AS (
      |  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
      |  FROM tr, generate_series(1, 64) AS gs(i) GROUP BY 1, 2
      |), c AS (
      |  SELECT label AS cand, list(m ORDER BY i) AS cent FROM m
      |  GROUP BY 1
      |  HAVING sqrt(list_dot_product(list(m ORDER BY i),
      |    list(m ORDER BY i))) > 0
      |   AND isfinite(sqrt(list_dot_product(list(m ORDER BY i),
      |    list(m ORDER BY i))))
      |), sc AS (
      |  SELECT te.vec_id, te.label AS true_label, c.cand,
      |    round(list_dot_product(te.embedding::DOUBLE[], c.cent) /
      |      (sqrt(list_dot_product(te.embedding::DOUBLE[],
      |        te.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(c.cent, c.cent))), 6) AS cos
      |  FROM te CROSS JOIN c
      |), pk AS (
      |  SELECT true_label, cand AS pred_label, cos, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY cos DESC, cand) AS rk
      |  FROM sc
      |)
      |SELECT true_label, pred_label, count(*)::BIGINT AS n,
      |  round(avg(cos), 6) AS avg_cos
      |FROM pk WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------- ns49 PCA top component (power iteration)

  /** Top principal component of the embedding cloud
    * ([[Similarity.pcaTopComponent]], 10 power iterations) — rows-
    * gated like the other iterative entries (ns42 BPE, q99 GD): the
    * driver-side normalize between aggregate passes is not ANSI-
    * restatable without compounding cross-engine ulps through every
    * iteration. The row carries its own `rel_residual` convergence
    * evidence (the ANN recall-column discipline) and MlSpec gates the
    * math against a planted dominant direction.
    */
  val ns49PcaPower: Q = (s, dir) =>
    Similarity.pcaTopComponent(Tables.embeddings(s, dir), dim = 64,
      iters = 10)

  /** ns49's pinned-fit hash gate (the ns42 graduation, PCA edition):
    * the power loop's driver-side normalize cannot restate in SQL,
    * but the 6 dp-rounded model row is run-to-run deterministic
    * (re-run-diffed identical before pinning), so the oracle is the
    * pinned row itself; the projection SEMANTICS gate is ns49b.
    */
  val ns49PcaPowerSql: String = {
    def d(x: Double) = java.lang.Double.toString(x) + "::DOUBLE"
    val ps = FittedModels.pcaComponent.zipWithIndex
      .map { case (x, i) => f"${d(x)} AS p$i%02d" }
    val ms = FittedModels.pcaMean.zipWithIndex
      .map { case (x, i) => f"${d(x)} AS m$i%02d" }
    (Seq(s"SELECT ${FittedModels.pcaNVecs}::BIGINT AS n_vecs",
      s"${d(FittedModels.pcaEigenvalue)} AS eigenvalue",
      s"${d(FittedModels.pcaRelResidual)} AS rel_residual") ++
      ps ++ ms).mkString(",\n  ")
  }

  /** The PCA SERVING chain, hash-gated (the q99b fitted-literals
    * graduation applied to ns49): run the REAL 10-step power
    * iteration, then project every non-degenerate vector onto the
    * fit's ROUNDED model row ([[Similarity.pcaProject]] — one codegen
    * dot against a literal vector, the centering shift folded into
    * one driver literal so both engines evaluate the identical
    * sequential expression). The oracle pins the sf0.01 (component,
    * mean) from [[graft.FittedModels]], so component drift in the fit
    * fails the gate loudly; only the iterative normalize loop stays
    * rows+spec.
    */
  val ns49bPcaProject: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val fit = Similarity.pcaTopComponent(emb, dim = 64, iters = 10)
      .head()
    val v = (0 until 64).map(i => fit.getAs[Double](f"p$i%02d"))
    val mu = (0 until 64).map(i => fit.getAs[Double](f"m$i%02d"))
    graft.functions.GraftExtensions.register(s)
    // the fit's own corpus: degenerate (zero/NaN/Inf-norm) vectors
    // were excluded from every mean, so they get no projection either
    // (ss > 0 && ss < Inf also excludes NaN — Spark orders NaN above
    // every value, so NaN < Inf is false)
    val e = col("embedding").cast("array<double>")
    val ss = graft.functions.VectorFunctions.dot(e, e)
    Similarity.pcaProject(
      emb.filter(ss > lit(0.0) && ss < lit(Double.PositiveInfinity)),
      v, mu)
      .orderBy(col("vec_id"))
  }

  val ns49bPcaProjectSql: String = {
    val vLits = FittedModels.pcaComponent
      .map(x => java.lang.Double.toString(x)).mkString(", ")
    // the SAME left-to-right fold pcaProject's driver runs over the
    // SAME rounded literals — one bit-identical scalar on both sides
    val c = FittedModels.pcaComponent.zip(FittedModels.pcaMean)
      .map { case (vi, mi) => vi * mi }.sum
    s"""WITH $duckNonZeroEmb
      |SELECT vec_id,
      |  round(list_dot_product(embedding::DOUBLE[], [$vLits]) -
      |    ${java.lang.Double.toString(c)}, 6) AS pc1
      |FROM nz ORDER BY vec_id""".stripMargin
  }

  // --------------------------- ns50 hybrid retrieval (RRF fusion)

  /** Hybrid lexical+semantic retrieval ([[Retrieval.rrfFuse]]): ns46's
    * BM25 candidates and ns7's exact-cosine candidates (both cut at
    * k=20, the standard over-retrieve) fused by reciprocal-rank —
    * rrf(q,d) = Σ 1/(60 + rank) over the lists that surfaced d — and
    * re-cut at 5. doc_id and vec_id are the aligned document key, so
    * the lexical list retrieves over `documents` while the semantic
    * one runs over `embeddings`, the two-tower shape a RAG stack
    * actually deploys. Per the operators' own contracts the lexical
    * list may retrieve the query's own document while the semantic
    * one excludes self (i ≠ j) — the oracle restates both pipelines
    * verbatim (round-before-rank on each side and on the fused
    * score), so the fusion arithmetic AND both cuts are hash-gated.
    * The semantic query subset is applied STRUCTURALLY
    * ([[Similarity.bruteTopKForQueries]]: a semi-join before the pair
    * scan), so the |queries|·N pair bound holds by construction, not
    * by an optimizer pushdown surviving refactors.
    */
  val ns50HybridRrf: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    val lex = Retrieval.bm25TopK(docs, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = Tables.embeddings(s, dir)
    val sem = Similarity.bruteTopKForQueries(emb,
        emb.filter(col("vec_id") % 50 === 0).select(col("vec_id")),
        k = 20)
      .select(col("i").as("query_id"), col("j").as("doc_id"),
        col("rk").as("rank"))
    Retrieval.rrfFuse(Seq(lex, sem), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val ns50HybridRrfSql: String =
    s"""WITH $duckNonZeroEmb, qd AS (
      |  SELECT DISTINCT doc_id AS query_id, unnest(list_slice(
      |    string_split(text, ' '), 1, 4)) AS term
      |  FROM documents WHERE doc_id % 50 = 0
      |), tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf
      |  FROM tok GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1
      |), st AS (
      |  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
      |), dfq AS (
      |  SELECT term, count(*)::BIGINT AS df FROM tf
      |  WHERE term IN (SELECT DISTINCT term FROM qd) GROUP BY 1
      |), sc AS (
      |  SELECT query_id, tf.doc_id,
      |    round(list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(
      |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))),
      |      (a, x) -> a + x), 6) AS score
      |  FROM qd JOIN tf USING (term) JOIN dfq USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY 1, 2
      |), lex AS (
      |  SELECT query_id, doc_id, rank FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      |    FROM sc) WHERE rank <= 20
      |), sem AS (
      |  SELECT query_id, doc_id, rank FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, b.vec_id) AS rank
      |    FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
      |    WHERE a.vec_id % 50 = 0) WHERE rank <= 20
      |), fused AS (
      |  SELECT query_id, doc_id,
      |    round(sum(1.0::DOUBLE / (60 + rank)), 6) AS rrf
      |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
      |  GROUP BY 1, 2
      |), rk AS (
      |  SELECT query_id, doc_id, rrf, row_number() OVER (
      |    PARTITION BY query_id ORDER BY rrf DESC, doc_id)::INT AS rank
      |  FROM fused
      |)
      |SELECT query_id, rank, doc_id, rrf FROM rk WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ------------------------ ns51 embedding outliers (per-label z)

  /** Embedding-quality gate ([[Similarity.outliersByLabel]]): cosine
    * of every vector to its own label centroid, z-scored within the
    * label, flagged below z = −2 — the scrub that catches mislabeled
    * or corrupted embeddings before they train. The oracle recomputes
    * the centroids coordinate-wise (ns47's form), the cosines with
    * DuckDB's list kernel, and the same round-then-aggregate-then-
    * round ladder, so the whole score→standardize→flag pipeline is
    * hash-gated, boolean included.
    */
  val ns51EmbedOutliers: Q = (s, dir) =>
    Similarity.outliersByLabel(Tables.embeddings(s, dir))
      .orderBy(col("vec_id"))

  val ns51EmbedOutliersSql: String =
    """WITH nzl AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  WHERE list_sum([x * x FOR x IN embedding::DOUBLE[]]) > 0
      |    AND isfinite(list_sum([x * x FOR x IN embedding::DOUBLE[]]))
      |), cent AS (
      |  SELECT label, i AS pos, avg(embedding[i]::DOUBLE) AS m
      |  FROM nzl, generate_series(1, 64) AS gs(i)
      |  GROUP BY 1, 2
      |), cvec AS (
      |  SELECT label, array_agg(m ORDER BY pos) AS c
      |  FROM cent GROUP BY 1
      |), cnz AS (
      |  SELECT label, c FROM cvec
      |  WHERE list_sum([x * x FOR x IN c]) > 0
      |    AND isfinite(list_sum([x * x FOR x IN c]))
      |), sc AS (
      |  SELECT vec_id, label, round(list_cosine_similarity(
      |    embedding::DOUBLE[], c), 6) AS cos_c
      |  FROM nzl JOIN cnz USING (label)
      |), st AS (
      |  SELECT label, avg(cos_c) AS m, stddev_pop(cos_c) AS s
      |  FROM sc GROUP BY 1
      |), zz AS (
      |  SELECT vec_id, label, cos_c,
      |    round(CASE WHEN s > 0 THEN (cos_c - m) / s ELSE 0.0 END, 6)
      |      AS z
      |  FROM sc JOIN st USING (label)
      |)
      |SELECT vec_id, label, cos_c, z, z < -2.0 AS is_outlier
      |FROM zz ORDER BY vec_id""".stripMargin

  // --------------------- ns52 dedup survivor selection (keep policy)

  /** The step after cluster resolution: ns16's duplicate clusters with
    * a keep-ONE-per-cluster policy ([[Dedup.keepRepresentatives]]) —
    * survivor = the longest member (length(text), doc_id tiebreak),
    * everything else marked for drop, n_members as the audit column.
    * The oracle extends ns16's recursive-CTE clustering with the same
    * window, so the whole pair→cluster→select pipeline is hash-gated
    * end to end, keep flags included. Integer scores — no float
    * anywhere in the policy.
    */
  val ns52DedupSurvivors: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val members = Dedup.clusters(docs,
      Dedup.minhashPairs(docs, n = 3, k = 16, bands = 4, threshold = 0.5))
    Dedup.keepRepresentatives(members,
      docs.select(col("doc_id"), length(col("text")).as("score")))
      .orderBy(col("doc_id"))
  }

  val ns52DedupSurvivorsSql: String =
    s"""WITH RECURSIVE ${minhashCteBody()},
       |pairs AS (
       |  SELECT i, j FROM verified
       |  WHERE round(common / (ni + nj - common), 6) >= 0.5
       |), edges AS (
       |  SELECT i AS a, j AS b FROM pairs
       |  UNION ALL SELECT j AS a, i AS b FROM pairs
       |), reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
       |), members AS (
       |  SELECT node AS doc_id, min(lab) AS cluster_id
       |  FROM reach GROUP BY node
       |)
       |SELECT m.doc_id, m.cluster_id, length(d.text)::INT AS score,
       |  count(*) OVER (PARTITION BY m.cluster_id) AS n_members,
       |  row_number() OVER (PARTITION BY m.cluster_id
       |    ORDER BY length(d.text) DESC, m.doc_id) = 1 AS keep
       |FROM members m JOIN documents d ON d.doc_id = m.doc_id
       |ORDER BY m.doc_id""".stripMargin

  // ------------------- ns53 leakage-free split (by dup cluster)

  /** Near-dup-leakage-free corpus split
    * ([[TextAnalysis.splitByCluster]]): ns16's duplicate clusters
    * hashed into train/val/test by CLUSTER id, so a test document's
    * near-copies can never sit in train — the contamination a per-doc
    * hash split (ns17) structurally cannot prevent. Gated per-doc
    * (doc_id, cluster_id, split); the oracle extends ns16's recursive
    * CTE with the same hash CASE, so cluster resolution AND the
    * assignment rule are hash-gated together. MlSpec asserts the
    * no-straddle invariant directly on the near-dup pairs.
    */
  val ns53LeakFreeSplit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val members = Dedup.clusters(docs,
      Dedup.minhashPairs(docs, n = 3, k = 16, bands = 4, threshold = 0.5))
    TextAnalysis.splitByCluster(members)
      .orderBy(col("doc_id"))
  }

  val ns53LeakFreeSplitSql: String = {
    val h = duckHash60("cluster_id::VARCHAR")
    s"""WITH RECURSIVE ${minhashCteBody()},
       |pairs AS (
       |  SELECT i, j FROM verified
       |  WHERE round(common / (ni + nj - common), 6) >= 0.5
       |), edges AS (
       |  SELECT i AS a, j AS b FROM pairs
       |  UNION ALL SELECT j AS a, i AS b FROM pairs
       |), reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
       |), members AS (
       |  SELECT node AS doc_id, min(lab) AS cluster_id
       |  FROM reach GROUP BY node
       |)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN $h % 100 < 90 THEN 'train'
       |    WHEN $h % 100 < 95 THEN 'val' ELSE 'test' END AS split
       |FROM members ORDER BY doc_id""".stripMargin
  }

  /** Cross-document duplicated-span removal (ExactSubstr, Lee et al.
    * 2022): k-token regions whose content already appears in an
    * earlier doc are cut, one canonical copy kept corpus-wide. k=6
    * so the synthetic corpus's repeated sentences actually trip it.
    * The oracle restates the whole pipeline — positional shingle
    * hashes, min-holder aggregate, gaps-and-islands merge, anti-join
    * reassembly — and gates the cleaned text BY DIGEST.
    */
  val ns55ExactSubstr: Q = (s, dir) =>
    Dedup.exactSubstr(Tables.documents(s, dir), k = 6)
      .orderBy(col("doc_id"))

  /** The ns55 pipeline, parameterized on a final report predicate so
    * the incremental gate (ns55b) states "the full recompute,
    * restricted to the new batch" with the SAME text, and on a
    * corpus predicate so the delete gates (ns55d/ns55e) state "the
    * full recompute over the SURVIVOR corpus".
    */
  private def substrPipelineSql(reportWhere: String,
      corpusWhere: String = ""): String = {
    val h = duckHash60("array_to_string(w[i:i+5], ' ')")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents $corpusWhere
       |), shpos AS (
       |  SELECT doc_id, w,
       |    unnest(generate_series(1, len(w) - 5)) AS i
       |  FROM tok
       |), sh AS (
       |  SELECT doc_id, i - 1 AS pos, $h AS h FROM shpos
       |), canon AS (
       |  SELECT h, min(doc_id) AS min_doc FROM sh
       |  GROUP BY h HAVING min(doc_id) <> max(doc_id)
       |), spans AS (
       |  SELECT sh.doc_id, sh.pos AS s, sh.pos + 5 AS e
       |  FROM sh JOIN canon ON sh.h = canon.h
       |  WHERE sh.doc_id > canon.min_doc
       |), isl AS (
       |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
       |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND 1 PRECEDING) AS prev_max_e
       |  FROM spans
       |), isl2 AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
       |      ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl
       |), merged AS (
       |  SELECT doc_id, island, min(s) AS s, max(e) AS e
       |  FROM isl2 GROUP BY doc_id, island
       |), stats AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    sum(e - s + 1)::BIGINT AS dup_tokens
       |  FROM merged GROUP BY doc_id
       |), rem AS (
       |  SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM merged
       |), toks AS (
       |  SELECT doc_id, unnest(w) AS word,
       |    unnest(generate_series(1, len(w))) - 1 AS pos
       |  FROM tok
       |), kept AS (
       |  SELECT t.doc_id, t.pos, t.word FROM toks t
       |  ANTI JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
       |), cleaned AS (
       |  SELECT doc_id, md5(string_agg(word, ' ' ORDER BY pos))
       |    AS cleaned_md5
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT b.doc_id, len(b.w) AS total_tokens,
       |  coalesce(s.n_spans, 0) AS n_spans,
       |  coalesce(s.dup_tokens, 0) AS dup_tokens,
       |  round(coalesce(s.dup_tokens, 0)::DOUBLE / len(b.w), 6)
       |    AS frac_dup,
       |  coalesce(c.cleaned_md5, md5('')) AS cleaned_md5
       |FROM tok b
       |LEFT JOIN stats s USING (doc_id)
       |LEFT JOIN cleaned c USING (doc_id)
       |$reportWhere
       |ORDER BY b.doc_id""".stripMargin
  }

  val ns55ExactSubstrSql: String = substrPipelineSql("")

  /** Incremental ExactSubstr against the served shingle-hash index:
    * build on the first half, append the third quarter (monotone
    * ingest), increment the final quarter. Gated on the FULL
    * recompute restricted to the batch — hash-equality proves the
    * index probe is semantics-preserving.
    */
  val ns55bSubstrIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val (t1, t2) = (n / 2, 3 * n / 4)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "substr_index")
    if (ivfIndexWritten.add(path)) {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < t1), path, k = 6)
      Dedup.appendSubstrIndex(s,
        docs.filter(col("doc_id") >= t1 && col("doc_id") < t2), path)
    }
    Dedup.exactSubstrIncrement(s, docs.filter(col("doc_id") >= t2), path)
      .orderBy(col("doc_id"))
  }

  val ns55bSubstrIncrementalSql: String = substrPipelineSql(
    "WHERE b.doc_id >= (SELECT count(*) FROM documents) * 3 // 4")

  /** ns55b's lifecycle with COMPACTION between append and increment.
    * Under the postings form an append of fresh docs never duplicates
    * a (h, doc_id) row, so the gate INJECTS the real debt source — an
    * at-least-once replay of the same append at the pre-batch max,
    * exactly the crash state [[graft.streaming.SubstrIngest]] replays
    * from — doubling the batch's postings. Compaction collapses them
    * through the crash-safe stage, and the increment must answer
    * EXACTLY as before — gated on ns55b's own oracle, the
    * compaction-is-invisible discipline (ns46e/ns8g) for the dedup
    * tier.
    */
  val ns55cSubstrCompacted: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val (t1, t2) = (n / 2, 3 * n / 4)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "substr_index_c")
    if (ivfIndexWritten.add(path)) {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < t1), path, k = 6)
      val batch = docs.filter(col("doc_id") >= t1 && col("doc_id") < t2)
      Dedup.appendSubstrIndex(s, batch, path)
      Dedup.appendSubstrIndexAt(s, batch, path, t1 - 1)
      Dedup.compactSubstrIndex(s, path)
      ()
    }
    Dedup.exactSubstrIncrement(s, docs.filter(col("doc_id") >= t2), path)
      .orderBy(col("doc_id"))
  }

  /** Takedown lifecycle for the substr index, MASK-AT-READ half:
    * build on the first half, append the third quarter, soft-delete
    * every indexed doc with doc_id % 7 == 3
    * ([[Dedup.deleteFromSubstrIndex]] — an id-sized tombstone append,
    * zero data files touched), then increment the final quarter
    * THROUGH the tombstones. Gated on the full recompute over the
    * SURVIVOR corpus restricted to the batch — hash-equality proves
    * both deletion effects at once: a taken-down doc stops flagging
    * spans against vanished text, and the next-earliest SURVIVING
    * holder is promoted (the postings rows' whole point; a min-only
    * index row cannot answer this). The ns66e discipline for the
    * dedup tier.
    */
  val ns55dSubstrDeleted: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val (t1, t2) = (n / 2, 3 * n / 4)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "substr_index_d")
    if (ivfIndexWritten.add(path)) {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < t1), path, k = 6)
      Dedup.appendSubstrIndex(s,
        docs.filter(col("doc_id") >= t1 && col("doc_id") < t2), path)
      Dedup.deleteFromSubstrIndex(s,
        docs.filter(col("doc_id") < t2 && col("doc_id") % 7 === 3)
          .select(col("doc_id")), path)
    }
    Dedup.exactSubstrIncrement(s, docs.filter(col("doc_id") >= t2), path)
      .orderBy(col("doc_id"))
  }

  /** [[ns55dSubstrDeleted]]'s PHYSICAL half: the same delete, then
    * [[Dedup.compactSubstrIndex]] reclaims the tombstone debt (drops
    * the deleted holders' postings, clears the snapshotted tombstone
    * files last), then the same increment — gated on ns55d's own
    * survivor oracle, so mask-at-read and compact-then-read are
    * hash-proven to answer identically.
    */
  val ns55eSubstrDelCompacted: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val (t1, t2) = (n / 2, 3 * n / 4)
    val path = RelationalQueries.zOrderedTablePath(s, dir, "substr_index_e")
    if (ivfIndexWritten.add(path)) {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < t1), path, k = 6)
      Dedup.appendSubstrIndex(s,
        docs.filter(col("doc_id") >= t1 && col("doc_id") < t2), path)
      Dedup.deleteFromSubstrIndex(s,
        docs.filter(col("doc_id") < t2 && col("doc_id") % 7 === 3)
          .select(col("doc_id")), path)
      Dedup.compactSubstrIndex(s, path)
      ()
    }
    Dedup.exactSubstrIncrement(s, docs.filter(col("doc_id") >= t2), path)
      .orderBy(col("doc_id"))
  }

  val ns55dSubstrDeletedSql: String = substrPipelineSql(
    "WHERE b.doc_id >= (SELECT count(*) FROM documents) * 3 // 4",
    "WHERE NOT (doc_id % 7 = 3 AND doc_id < " +
      "(SELECT count(*) FROM documents) * 3 // 4)")

  /** Span-level benchmark decontamination: docs with source-mod 7 act
    * as the held-out benchmark, the rest as the training corpus; any
    * 6-token span of a corpus doc whose content appears in the
    * benchmark is cut (not the whole doc — the surgical complement of
    * ns23's document-level flags).
    */
  val ns58DecontamSpans: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.decontaminateSpans(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7), k = 6)
      .orderBy(col("doc_id"))
  }

  val ns58DecontamSpansSql: String = {
    val hc = duckHash60("array_to_string(w[i:i+5], ' ')")
    s"""WITH corpus AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE doc_id % 10 <> 7
       |), bench AS (
       |  SELECT string_split(text, ' ') AS w FROM documents
       |  WHERE doc_id % 10 = 7
       |), shc AS (
       |  SELECT doc_id, i - 1 AS pos, $hc AS h FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 5)) AS i
       |    FROM corpus)
       |), bad AS (
       |  SELECT DISTINCT $hc AS h FROM (
       |    SELECT w, unnest(generate_series(1, len(w) - 5)) AS i
       |    FROM bench)
       |), spans AS (
       |  SELECT c.doc_id, c.pos AS s, c.pos + 5 AS e
       |  FROM shc c SEMI JOIN bad b ON c.h = b.h
       |), isl AS (
       |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
       |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND 1 PRECEDING) AS prev_max_e
       |  FROM spans
       |), isl2 AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
       |      ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl
       |), merged AS (
       |  SELECT doc_id, island, min(s) AS s, max(e) AS e
       |  FROM isl2 GROUP BY doc_id, island
       |), stats AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    sum(e - s + 1)::BIGINT AS dup_tokens
       |  FROM merged GROUP BY doc_id
       |), rem AS (
       |  SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM merged
       |), toks AS (
       |  SELECT doc_id, unnest(w) AS word,
       |    unnest(generate_series(1, len(w))) - 1 AS pos
       |  FROM corpus
       |), kept AS (
       |  SELECT t.doc_id, t.pos, t.word FROM toks t
       |  ANTI JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
       |), cleaned AS (
       |  SELECT doc_id, md5(string_agg(word, ' ' ORDER BY pos))
       |    AS cleaned_md5
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT b.doc_id, len(b.w) AS total_tokens,
       |  coalesce(s.n_spans, 0) AS n_spans,
       |  coalesce(s.dup_tokens, 0) AS dup_tokens,
       |  round(coalesce(s.dup_tokens, 0)::DOUBLE / len(b.w), 6)
       |    AS frac_dup,
       |  coalesce(c.cleaned_md5, md5('')) AS cleaned_md5
       |FROM corpus b
       |LEFT JOIN stats s USING (doc_id)
       |LEFT JOIN cleaned c USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  /** Contrastive triplet mining: per sampled anchor, the best positive
    * (cos ≥ 0.35) and the 3 hardest in-band negatives
    * (0.2 ≤ cos < 0.35) — the finetuning-pair generator. Anchors
    * missing either side yield nothing (a triplet needs both).
    */
  val ns57HardNegatives: Q = (s, dir) =>
    Similarity.hardNegatives(Tables.embeddings(s, dir), queryMod = 5,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3)
      .orderBy(col("i"), col("rk"))

  val ns57HardNegativesSql: String =
    s"""WITH $duckNonZeroEmb,
      |scored AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[],
      |      b.embedding::DOUBLE[]), 6) AS cos
      |  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 5 = 0
      |), pos AS (
      |  SELECT i, j AS pos_id, cos AS pos_cos FROM (
      |    SELECT i, j, cos, row_number() OVER (PARTITION BY i
      |      ORDER BY cos DESC, j) AS prk
      |    FROM scored WHERE cos >= 0.35) WHERE prk = 1
      |), neg AS (
      |  SELECT i, rk, j AS neg_id, cos AS neg_cos FROM (
      |    SELECT i, j, cos, row_number() OVER (PARTITION BY i
      |      ORDER BY cos DESC, j) AS rk
      |    FROM scored WHERE cos >= 0.2 AND cos < 0.35) WHERE rk <= 3
      |)
      |SELECT p.i, n.rk, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
      |FROM pos p JOIN neg n ON p.i = n.i
      |ORDER BY p.i, n.rk""".stripMargin

  /** The triplet-mining ROUTER as the gated default
    * ([[Similarity.hardNegativesAuto]], budget 1M anchor·candidate
    * pairs, sign-LSH 8×4 bands, occupancy cap 200) — the r12
    * verdict's item 4: ns57's scale story was scaladoc prose; now the
    * brute |anchors|·(N−1) scan runs only while its measured volume
    * fits the budget (this fixture: 100·499 ≈ 50k vs 1M → brute, so
    * the gate is ns57's own restatement and hash-equality proves the
    * routed default changes nothing under budget), and past it the
    * SAME positive/negative band windows run over the LSH candidate
    * cut (anchors keep all bands; the candidate side drops hot
    * buckets — the ns6c cap). The oracle restates the routing scalar
    * and BOTH branches (banded candidates via the literal-plane
    * lshBandedSql + windowed bucket count); MlSpec pins the
    * subset/recall relation of the LSH branch to the brute triplets.
    */
  val ns57bHardNegativesAuto: Q = (s, dir) =>
    Similarity.hardNegativesAuto(Tables.embeddings(s, dir),
      queryMod = 5, posThreshold = 0.35, negLo = 0.2, nNegs = 3,
      nBands = 8, bitsPerBand = 4, dim = 64,
      budgetPairsTotal = 1000000L, bandOccupancyCap = 200L)
      .orderBy(col("i"), col("rk"))

  val ns57bHardNegativesAutoSql: String =
    s"""WITH $duckNonZeroEmb,
      |cond AS (
      |  SELECT (SELECT count(*) FROM nz WHERE vec_id % 5 = 0)::HUGEINT
      |    * ((SELECT count(*) FROM nz) - 1) > 1000000 AS hot
      |),
      |scored AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[],
      |      b.embedding::DOUBLE[]), 6) AS cos
      |  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 5 = 0
      |), pos_b AS (
      |  SELECT i, j AS pos_id, cos AS pos_cos FROM (
      |    SELECT i, j, cos, row_number() OVER (PARTITION BY i
      |      ORDER BY cos DESC, j) AS prk
      |    FROM scored WHERE cos >= 0.35) WHERE prk = 1
      |), neg_b AS (
      |  SELECT i, rk, j AS neg_id, cos AS neg_cos FROM (
      |    SELECT i, j, cos, row_number() OVER (PARTITION BY i
      |      ORDER BY cos DESC, j) AS rk
      |    FROM scored WHERE cos >= 0.2 AND cos < 0.35) WHERE rk <= 3
      |),
      |${lshBandedSql(nBands = 8, bitsPerBand = 4, dim = 64)},
      |bkept AS (
      |  SELECT vec_id, band, bucket FROM (
      |    SELECT vec_id, band, bucket,
      |      count(*) OVER (PARTITION BY band, bucket) AS bsz
      |    FROM banded) WHERE bsz <= 200
      |),
      |candl AS (
      |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |  FROM banded a JOIN bkept b
      |    ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 5 = 0
      |), scoredl AS (
      |  SELECT c.i, c.j,
      |    round(list_cosine_similarity(x.embedding::DOUBLE[],
      |      y.embedding::DOUBLE[]), 6) AS cos
      |  FROM candl c JOIN nz x ON x.vec_id = c.i
      |  JOIN nz y ON y.vec_id = c.j
      |), pos_l AS (
      |  SELECT i, j AS pos_id, cos AS pos_cos FROM (
      |    SELECT i, j, cos, row_number() OVER (PARTITION BY i
      |      ORDER BY cos DESC, j) AS prk
      |    FROM scoredl WHERE cos >= 0.35) WHERE prk = 1
      |), neg_l AS (
      |  SELECT i, rk, j AS neg_id, cos AS neg_cos FROM (
      |    SELECT i, j, cos, row_number() OVER (PARTITION BY i
      |      ORDER BY cos DESC, j) AS rk
      |    FROM scoredl WHERE cos >= 0.2 AND cos < 0.35) WHERE rk <= 3
      |)
      |SELECT * FROM (
      |  SELECT p.i, n.rk, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
      |  FROM pos_b p JOIN neg_b n ON p.i = n.i
      |  WHERE NOT (SELECT hot FROM cond)
      |  UNION ALL
      |  SELECT p.i, n.rk, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
      |  FROM pos_l p JOIN neg_l n ON p.i = n.i
      |  WHERE (SELECT hot FROM cond))
      |ORDER BY i, rk""".stripMargin

  /** MMR diversity rerank: greedy λ-tradeoff between relevance and
    * redundancy over each query's top-10 list, k=5 picks. The greedy
    * loop is UNROLLED in the oracle (one CTE pair per step), so the
    * full trajectory — rounded-score argmax, id tiebreak, running
    * selected set — is driver-proven step for step.
    */
  val ns59MmrRerank: Q = (s, dir) =>
    Similarity.mmrRerank(Tables.embeddings(s, dir), queryMod = 50,
      m = 10, k = 5, lam = 0.75)

  val ns59MmrRerankSql: String = {
    def selCte(t: Int): String =
      (1 to t).map(x => s"SELECT i, j FROM s$x").mkString(" UNION ALL ")
    val steps = (2 to 5).map { t =>
      s"""mx$t AS (
         |  SELECT sm.i, sm.ja AS j, max(sm.sim) AS maxsim
         |  FROM sims sm JOIN (${selCte(t - 1)}) sel
         |    ON sm.i = sel.i AND sm.jb = sel.j
         |  GROUP BY sm.i, sm.ja
         |), s$t AS (
         |  SELECT i, $t AS rank, j, score FROM (
         |    SELECT m.i, m.j,
         |      round(0.75::DOUBLE * r.rel - 0.25::DOUBLE * m.maxsim, 6)
         |        AS score,
         |      row_number() OVER (PARTITION BY m.i ORDER BY
         |        round(0.75::DOUBLE * r.rel - 0.25::DOUBLE * m.maxsim, 6)
         |          DESC, m.j) AS rn
         |    FROM mx$t m JOIN rel r ON r.i = m.i AND r.j = m.j
         |    ANTI JOIN (${selCte(t - 1)}) s ON m.i = s.i AND m.j = s.j
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckNonZeroEmb,
      |rel AS (
      |  SELECT i, j, cos AS rel FROM (
      |    SELECT a.vec_id AS i, b.vec_id AS j,
      |      round(list_cosine_similarity(a.embedding::DOUBLE[],
      |        b.embedding::DOUBLE[]), 6) AS cos,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, b.vec_id) AS rk
      |    FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
      |    WHERE a.vec_id % 50 = 0) WHERE rk <= 10
      |), sims AS (
      |  SELECT r1.i, r1.j AS ja, r2.j AS jb,
      |    round(list_cosine_similarity(x.embedding::DOUBLE[],
      |      y.embedding::DOUBLE[]), 6) AS sim
      |  FROM rel r1 JOIN rel r2 ON r1.i = r2.i AND r1.j <> r2.j
      |  JOIN nz x ON x.vec_id = r1.j JOIN nz y ON y.vec_id = r2.j
      |), s1 AS (
      |  SELECT i, 1 AS rank, j, score FROM (
      |    SELECT i, j, round(0.75::DOUBLE * rel, 6) AS score,
      |      row_number() OVER (PARTITION BY i
      |        ORDER BY round(0.75::DOUBLE * rel, 6) DESC, j) AS rn
      |    FROM rel) WHERE rn = 1
      |),
      |$steps
      |SELECT i, rank, j, score FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |  UNION ALL SELECT * FROM s5)
      |ORDER BY i, rank""".stripMargin
  }

  /** Deterministic seeded global shuffle — the training-order export:
    * position = global rank of hash60(seed|doc_id), assigned through
    * the monotone-bucket machinery (no single-task corpus sort). The
    * oracle states the NAIVE global window the decomposition is
    * bit-identical to.
    */
  val ns56ShuffleOrder: Q = (s, dir) =>
    Corpus.shufflePositions(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", seed = "epoch0")
      .orderBy(col("position"))

  val ns56ShuffleOrderSql: String = {
    val h = duckHash60("'epoch0|' || doc_id::VARCHAR")
    s"""SELECT doc_id, source,
       |  row_number() OVER (ORDER BY $h,
       |    'epoch0|' || doc_id::VARCHAR) AS position
       |FROM documents ORDER BY position""".stripMargin
  }

  // --------------------------------- ns65 RAG serving capstone (one plan)

  /** The serving-side capstone (the ns64 discipline applied to
    * retrieval): chunk → persisted chunk-level BM25 index → served
    * IVF ANN → RRF fusion → per-query score normalization → MMR
    * diversity rerank, composed over the SAME persisted index
    * fixtures the stage gates use, as ONE gated plan. Every stage is
    * individually gated (ns37/ns46b/ns8d/ns50/ns59); this entry
    * proves the COMPOSITION — key alignment across towers, the
    * chunk→doc collapse, rank plumbing into the fusion, normalized
    * relevance into the greedy rerank — because stage gates cannot
    * see a mis-wired seam between stages.
    *
    * Chain: documents chunk into 32-token/24-stride windows
    * ([[Corpus.chunkText]]), keyed doc_id·64+chunk_idx (loud guard);
    * a BM25 index persists over the CHUNKS and serves the query set
    * (every 50th doc's first 4 words) at k=20; chunk hits collapse to
    * documents ranked by (best chunk rank, doc_id) — the standard
    * passage→document step; the semantic tower serves the persisted
    * doc-level IVF index (seed centroids, 3 probes) at k=20; RRF
    * (c=60) fuses the two towers and cuts at 10; rrf normalizes to
    * rel = rrf/max(rrf) per query (rank-fusion scores are
    * list-length-scaled — normalizing makes λ mean the same thing at
    * every query); [[Similarity.mmrRerankList]] greedily picks 5
    * with λ=0.75. The oracle restates every stage, MMR steps
    * unrolled, so the hash gates the full serving trajectory.
    */
  val ns65RagServe: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val bmPath =
      RelationalQueries.zOrderedTablePath(s, dir, "rag_bm25_chunks")
    if (ivfIndexWritten.add(bmPath)) {
      val chunks = Corpus.chunkText(docs, chunkSize = 32, stride = 24)
        .select((col("doc_id") * 64 +
          when(col("chunk_idx") < 64, col("chunk_idx"))
            .otherwise(raise_error(concat(
              lit("ns65: chunk_idx overflows the 64-per-doc key "),
              col("chunk_idx").cast("string"))))).as("doc_id"),
          col("text"))
      Retrieval.writeBm25Index(chunks, bmPath, nBuckets = 64)
    }
    val ivfPath =
      RelationalQueries.zOrderedTablePath(s, dir, "ivf_index")
    val cents = Similarity.seedCentroids(emb, nCells = 16)
    if (ivfIndexWritten.add(ivfPath))
      Similarity.writeIvfIndex(emb, cents, ivfPath)
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
    // the two towers' CONSTRUCTION runs independent bounded driver
    // actions (bucket and probed-cell collects, stats heads) — overlap
    // them (the ns68 discipline; the fixture blocks above are complete
    // before either thunk runs)
    val towerThunks: Seq[() => DataFrame] = Seq(
      // lexical tower: chunk hits collapsed to docs by best chunk rank
      () => {
        val chunkHits =
          Retrieval.queryBm25Index(s, bmPath, queries, k = 20)
        val wLex = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("minrk"), col("doc_id"))
        chunkHits
          .groupBy(col("query_id"),
            floor(col("doc_id") / 64).cast("long").as("doc_id"))
          .agg(min(col("rank")).as("minrk"))
          .withColumn("rank", row_number().over(wLex).cast("int"))
          .select(col("query_id"), col("doc_id"), col("rank"))
      },
      // semantic tower: the served IVF index, multi-probe
      () => Similarity.queryIvfIndex(s, ivfPath,
          emb.filter(col("vec_id") % 50 === 0), cents, k = 20,
          probes = 3)
        .select(col("i").as("query_id"), col("j").as("doc_id"),
          col("rk").as("rank")))
    val Seq(lex, sem) = Materialize.overlap(towerThunks)
    val fused = Retrieval.rrfFuse(Seq(lex, sem), k = 10)
    val wMax = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    val cands = fused
      .withColumn("rel", round(col("rrf") / max(col("rrf")).over(wMax), 6))
      .select(col("query_id").as("i"), col("doc_id").as("j"), col("rel"))
    Similarity.mmrRerankList(cands, emb, k = 5, lam = 0.75)
      .select(col("i").as("query_id"), col("rank"), col("j").as("doc_id"),
        col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val ns65RagServeSql: String = {
    def selCte(t: Int): String =
      (1 to t).map(x => s"SELECT i, j FROM s$x").mkString(" UNION ALL ")
    val steps = (2 to 5).map { t =>
      s"""mx$t AS (
         |  SELECT r.i, r.j, r.rel,
         |    coalesce(max(sm.sim), 0.0::DOUBLE) AS maxsim
         |  FROM rel r
         |  ANTI JOIN (${selCte(t - 1)}) s ON r.i = s.i AND r.j = s.j
         |  LEFT JOIN (
         |    SELECT sm0.i, sm0.ja AS j, sm0.sim
         |    FROM sims sm0 JOIN (${selCte(t - 1)}) sel
         |      ON sm0.i = sel.i AND sm0.jb = sel.j) sm
         |    ON sm.i = r.i AND sm.j = r.j
         |  GROUP BY r.i, r.j, r.rel
         |), s$t AS (
         |  SELECT i, $t AS rank, j, score FROM (
         |    SELECT i, j,
         |      round(0.75::DOUBLE * rel - 0.25::DOUBLE * maxsim, 6)
         |        AS score,
         |      row_number() OVER (PARTITION BY i ORDER BY
         |        round(0.75::DOUBLE * rel - 0.25::DOUBLE * maxsim, 6)
         |          DESC, j) AS rn
         |    FROM mx$t) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckNonZeroEmb,
      |chunks AS (
      |  SELECT doc_id * 64 + chunk_idx AS cid,
      |    array_to_string(list_slice(w, chunk_idx*24 + 1,
      |      chunk_idx*24 + 32), ' ') AS text
      |  FROM (
      |    SELECT doc_id, w, unnest(generate_series(0,
      |      CASE WHEN len(w) <= 32 THEN 0
      |        ELSE ((len(w) - 32 + 23) - ((len(w) - 32 + 23) % 24)) // 24
      |      END)) AS chunk_idx
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w
      |          FROM documents))
      |), qd AS (
      |  SELECT DISTINCT doc_id AS query_id, unnest(list_slice(
      |    string_split(text, ' '), 1, 4)) AS term
      |  FROM documents WHERE doc_id % 50 = 0
      |), tok AS (
      |  SELECT cid, unnest(string_split(text, ' ')) AS term FROM chunks
      |), tf AS (
      |  SELECT cid, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
      |), dl AS (
      |  SELECT cid, count(*)::BIGINT AS dl FROM tok GROUP BY 1
      |), st AS (
      |  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
      |), dfq AS (
      |  SELECT term, count(*)::BIGINT AS df FROM tf
      |  WHERE term IN (SELECT DISTINCT term FROM qd) GROUP BY 1
      |), sc AS (
      |  SELECT query_id, tf.cid,
      |    round(list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(
      |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))),
      |      (a, x) -> a + x), 6) AS score
      |  FROM qd JOIN tf USING (term) JOIN dfq USING (term)
      |  JOIN dl ON tf.cid = dl.cid CROSS JOIN st
      |  GROUP BY 1, 2
      |), chunk_hits AS (
      |  SELECT query_id, cid, rank FROM (
      |    SELECT query_id, cid, row_number() OVER (
      |      PARTITION BY query_id ORDER BY score DESC, cid) AS rank
      |    FROM sc) WHERE rank <= 20
      |), lex AS (
      |  SELECT query_id, doc_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY minrk, doc_id) AS rank
      |  FROM (SELECT query_id, cid // 64 AS doc_id, min(rank) AS minrk
      |        FROM chunk_hits GROUP BY 1, 2)
      |), cents AS (
      |  SELECT vec_id AS cell, embedding AS ce FROM nz
      |  ORDER BY vec_id LIMIT 16
      |), ranked AS (
      |  SELECT vec_id, cell, crk FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY round(list_cosine_similarity(
      |          v.embedding::DOUBLE[], c.ce::DOUBLE[]), 6) DESC,
      |          c.cell) AS crk
      |    FROM nz v CROSS JOIN cents c) WHERE crk <= 3
      |), sem AS (
      |  SELECT query_id, doc_id, rank FROM (
      |    SELECT q.vec_id AS query_id, ix.vec_id AS doc_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
      |          b.embedding::DOUBLE[]), 6) DESC, ix.vec_id) AS rank
      |    FROM ranked q JOIN ranked ix
      |      ON q.cell = ix.cell AND ix.crk = 1 AND q.vec_id <> ix.vec_id
      |    JOIN nz a ON a.vec_id = q.vec_id
      |    JOIN nz b ON b.vec_id = ix.vec_id
      |    WHERE q.vec_id % 50 = 0) WHERE rank <= 20
      |), fused AS (
      |  SELECT query_id, doc_id,
      |    round(sum(1.0::DOUBLE / (60 + rank)), 6) AS rrf
      |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
      |  GROUP BY 1, 2
      |), f10 AS (
      |  SELECT query_id, doc_id, rrf FROM (
      |    SELECT query_id, doc_id, rrf, row_number() OVER (
      |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
      |    FROM fused) WHERE rank <= 10
      |), rel AS (
      |  SELECT query_id AS i, doc_id AS j,
      |    round(rrf / max(rrf) OVER (PARTITION BY query_id), 6) AS rel
      |  FROM f10
      |), sims AS (
      |  SELECT r1.i, r1.j AS ja, r2.j AS jb,
      |    round(list_cosine_similarity(x.embedding::DOUBLE[],
      |      y.embedding::DOUBLE[]), 6) AS sim
      |  FROM rel r1 JOIN rel r2 ON r1.i = r2.i AND r1.j <> r2.j
      |  JOIN nz x ON x.vec_id = r1.j JOIN nz y ON y.vec_id = r2.j
      |), s1 AS (
      |  SELECT i, 1 AS rank, j, score FROM (
      |    SELECT i, j, round(0.75::DOUBLE * rel, 6) AS score,
      |      row_number() OVER (PARTITION BY i
      |        ORDER BY round(0.75::DOUBLE * rel, 6) DESC, j) AS rn
      |    FROM rel) WHERE rn = 1
      |),
      |$steps
      |SELECT i AS query_id, rank, j AS doc_id, score FROM (
      |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |  UNION ALL SELECT * FROM s5)
      |ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------------------ registry

  def all: Map[String, Q] = Map(
    "ns1_dedup_exact" -> ns1DedupExact,
    "ns2_dedup_jaccard" -> ns2DedupJaccard,
    "ns3_dedup_minhash" -> ns3DedupMinhash,
    "ns4_simhash" -> ns4Simhash,
    "ns5_simhash_pairs" -> ns5SimhashPairs,
    "ns5b_simhash_subsplit" -> ns5bSimhashSubsplit,
    "ns5c_simhash_capped" -> ns5cSimhashCapped,
    "ns5d_simhash_auto" -> ns5dSimhashAuto,
    "ns6_embed_neardup" -> ns6EmbedNearDup,
    "ns6b_embed_neardup_lsh" -> ns6bEmbedNearDupLsh,
    "ns6c_embed_neardup_auto" -> ns6cEmbedNearDupAuto,
    "ns7_sim_topk" -> ns7SimTopk,
    "ns7b_sim_topk_agg" -> ns7bSimTopkAgg,
    "ns7c_sim_topk_sq8" -> ns7cSimTopkSq8,
    "ns7f_sim_topk_binary" -> ns7fSimTopkBinary,
    "ns7g_sim_binary_compacted" -> ns7gSimBinaryCompacted,
    "ns7h_sim_binary_streamed" -> ns7hSimBinaryStreamed,
    "ns7h_b_binary_serve" -> ns7hbBinaryServeBare,
    "ns7i_binary_neardup" -> ns7iBinaryNearDup,
    "ns7j_sim_binary_routed" -> ns7jSimBinaryRouted,
    "ns7k_binary_neardup_auto" -> ns7kBinaryNearDupAuto,
    "ns7d_sim_ivfpq" -> ns7dSimIvfPq,
    "ns7e_sim_ivfpq_served" -> ns7eSimIvfPqServed,
    "ns7l_sim_ivfpq_auto" -> ns7lSimIvfPqAuto,
    "ns7l_b_pq_serve" -> ns7lbPqServeBare,
    "ns8_sim_ivf" -> ns8SimIvf,
    "ns8b_sim_ivf_kmeans" -> ns8bSimIvfKmeans,
    "ns8c_sim_ivf_multiprobe" -> ns8cSimIvfMultiProbe,
    "ns8d_sim_ivf_served" -> ns8dSimIvfServed,
    "ns8d_b_ivf_serve" -> ns8dbIvfServeBare,
    "ns8j_ivf_served_auto" -> ns8jIvfServedAuto,
    "ns8j_b_ivf_serve_auto" -> ns8jbIvfServeAutoBare,
    "ns8e_sim_ivf_appended" -> ns8eSimIvfAppended,
    "ns8f_sim_ivf_deleted" -> ns8fSimIvfDeleted,
    "ns8g_sim_ivf_compacted" -> ns8gSimIvfCompacted,
    "ns8h_sim_ivf_folded" -> ns8hSimIvfFolded,
    "ns8i_sim_ivf_auto" -> ns8iSimIvfAuto,
    "ns9_lang_id" -> ns9LangId,
    "ns10_quality" -> ns10Quality,
    "ns11_tokens" -> ns11Tokens,
    "ns12_fingerprint" -> ns12Fingerprint,
    "ns13_multimodal_decode" -> ns13MultimodalDecode,
    "ns14_frame_sample" -> ns14FrameSample,
    "ns66_phash" -> ns66Phash,
    "ns66b_phash_pairs" -> ns66bPhashPairs,
    "ns66c_phash_increment" -> ns66cPhashIncrement,
    "ns66d_phash_streamed" -> ns66dPhashStreamed,
    "ns66e_phash_compacted" -> ns66ePhashCompacted,
    "ns67_jsonl_quarantine" -> ns67JsonlQuarantine,
    "ns67b_jsonl_gz" -> ns67bJsonlGz,
    "ns68_takedown" -> ns68Takedown,
    "ns68b_takedown_swept" -> ns68bTakedownSwept,
    "ns68c_takedown_ledger" -> ns68cTakedownLedger,
    "ns69_warc" -> ns69Warc,
    "ns69b_warc_gz" -> ns69bWarcGz,
    "ns71_url_canon" -> ns71UrlCanon,
    "ns15_lsh_ann" -> ns15LshAnn,
    "ns16_dedup_clusters" -> ns16DedupClusters,
    "ns17_sample_split" -> ns17SampleSplit,
    "ns18_tfidf" -> ns18Tfidf,
    "ns19_redact" -> ns19Redact,
    "ns20_repetition" -> ns20Repetition,
    "ns21_resize" -> ns21Resize,
    "ns21b_resize_dims" -> ns21bResizeDims,
    "ns21c_resize_decoded" -> ns21cResizeDecoded,
    "ns22_corpus_prep" -> ns22CorpusPrep,
    "ns23_contamination" -> ns23Contamination,
    "ns24_vocab" -> ns24Vocab,
    "ns24b_vocab_sketch" -> ns24bVocabSketch,
    "ns25_pack" -> ns25Pack,
    "ns26_release" -> ns26Release,
    "ns27_mixture" -> ns27Mixture,
    "ns28_dup_ngrams" -> ns28DupNgrams,
    "ns29_lm_score" -> ns29LmScore,
    "ns30_contamination_bloom" -> ns30ContaminationBloom,
    "ns31_budget_select" -> ns31BudgetSelect,
    "ns32_normalize" -> ns32Normalize,
    "ns33_ntile" -> ns33Ntile,
    "ns34_dedup_incremental" -> ns34DedupIncremental,
    "ns35_dup_paragraphs" -> ns35DupParagraphs,
    "ns36_para_jaccard" -> ns36ParaJaccard,
    "ns37_chunks" -> ns37Chunks,
    "ns38_weighted_sample" -> ns38WeightedSample,
    "ns39_prefix_join" -> ns39PrefixJoin,
    "ns40_bigram_lm" -> ns40BigramLm,
    "ns41_naive_bayes" -> ns41NaiveBayes,
    "ns42_bpe" -> ns42Bpe,
    "ns42b_bpe_segment" -> ns42bBpeSegment,
    "ns43_collocations" -> ns43Collocations,
    "ns44_semdedup" -> ns44SemDedup,
    "ns44b_semdedup_capped" -> ns44bSemDedupCapped,
    "ns44c_semdedup_auto" -> ns44cSemDedupAuto,
    "ns45_random_projection" -> ns45RandomProjection,
    "ns46_bm25" -> ns46Bm25,
    "ns46g_bm25_capped_df" -> ns46gBm25CappedDf,
    "ns46b_bm25_served" -> ns46bBm25Served,
    "ns46h_bm25_served_capped" -> ns46hBm25ServedCapped,
    "ns46i_bm25_auto" -> ns46iBm25Auto,
    "ns46j_bm25_served_auto" -> ns46jBm25ServedAuto,
    "ns46c_bm25_appended" -> ns46cBm25Appended,
    "ns46d_bm25_deleted" -> ns46dBm25Deleted,
    "ns46e_bm25_compacted" -> ns46eBm25Compacted,
    "ns46f_bm25_folded" -> ns46fBm25Folded,
    "ns47_centroids" -> ns47Centroids,
    "ns48_rocchio" -> ns48Rocchio,
    "ns49_pca_power" -> ns49PcaPower,
    "ns49b_pca_project" -> ns49bPcaProject,
    "ns50_hybrid_rrf" -> ns50HybridRrf,
    "ns51_embed_outliers" -> ns51EmbedOutliers,
    "ns52_dedup_survivors" -> ns52DedupSurvivors,
    "ns53_leakfree_split" -> ns53LeakFreeSplit,
    "ns54_temperature_mix" -> ns54TemperatureMix,
    "ns55_exact_substr" -> ns55ExactSubstr,
    "ns55b_substr_incremental" -> ns55bSubstrIncremental,
    "ns55c_substr_compacted" -> ns55cSubstrCompacted,
    "ns55d_substr_deleted" -> ns55dSubstrDeleted,
    "ns55e_substr_del_compacted" -> ns55eSubstrDelCompacted,
    "ns56_shuffle_order" -> ns56ShuffleOrder,
    "ns57_hard_negatives" -> ns57HardNegatives,
    "ns57b_hard_negatives_auto" -> ns57bHardNegativesAuto,
    "ns58_decontam_spans" -> ns58DecontamSpans,
    "ns59_mmr_rerank" -> ns59MmrRerank,
    "ns60_epoch_order" -> ns60EpochOrder,
    "ns64_train_export" -> ns64TrainExport,
    "ns65_rag_serve" -> ns65RagServe,
    "ns61_bottomk_sample" -> ns61BottomkSample,
    "ns61b_bottomk_merged" -> ns61bBottomkMerged,
    "ns62_user_histories" -> ns62UserHistories,
    "ns63_negative_samples" -> ns63NegativeSamples,
  )

  def oracles: Map[String, String] = Map(
    "ns1_dedup_exact" -> ns1DedupExactSql,
    "ns2_dedup_jaccard" -> ns2DedupJaccardSql,
    "ns3_dedup_minhash" -> ns3DedupMinhashSql,
    "ns4_simhash" -> ns4SimhashSql,
    "ns5_simhash_pairs" -> ns5SimhashPairsSql,
    "ns5b_simhash_subsplit" -> ns5bSimhashSubsplitSql,
    "ns5c_simhash_capped" -> ns5cSimhashCappedSql,
    "ns5d_simhash_auto" -> ns5dSimhashAutoSql,
    "ns6_embed_neardup" -> ns6EmbedNearDupSql,
    "ns6b_embed_neardup_lsh" -> ns6bEmbedNearDupLshSql,
    "ns6c_embed_neardup_auto" -> ns6cEmbedNearDupAutoSql,
    "ns15_lsh_ann" -> ns15LshAnnSql,
    "ns7_sim_topk" -> ns7SimTopkSql,
    "ns7b_sim_topk_agg" -> ns7SimTopkSql,
    "ns7c_sim_topk_sq8" -> ns7cSimTopkSq8Sql,
    "ns7f_sim_topk_binary" -> ns7fSimTopkBinarySql,
    "ns7g_sim_binary_compacted" -> ns7gSimBinaryCompactedSql,
    "ns7h_sim_binary_streamed" -> ns7fSimTopkBinarySql,
    "ns7h_b_binary_serve" -> ns7hbBinaryServeBareSql,
    "ns7i_binary_neardup" -> ns7iBinaryNearDupSql,
    "ns7j_sim_binary_routed" -> ns7jSimBinaryRoutedSql,
    "ns7k_binary_neardup_auto" -> ns7kBinaryNearDupAutoSql,
    "ns7d_sim_ivfpq" -> ns7dSimIvfPqSql,
    "ns7e_sim_ivfpq_served" -> ns7dSimIvfPqSql,
    "ns7l_sim_ivfpq_auto" -> ns7lSimIvfPqAutoSql,
    "ns7l_b_pq_serve" -> ns7lbPqServeBareSql,
    "ns8_sim_ivf" -> ns8SimIvfSql,
    "ns8b_sim_ivf_kmeans" -> ns8bSimIvfKmeansSql,
    "ns8c_sim_ivf_multiprobe" -> ns8cSimIvfMultiProbeSql,
    "ns8d_sim_ivf_served" -> ns8cSimIvfMultiProbeSql,
    "ns8d_b_ivf_serve" -> ns8dbIvfServeBareSql,
    "ns8j_ivf_served_auto" -> ns8jIvfServedAutoSql,
    "ns8j_b_ivf_serve_auto" -> ns8jbIvfServeAutoBareSql,
    "ns8e_sim_ivf_appended" -> ns8eSimIvfAppendedSql,
    "ns8f_sim_ivf_deleted" -> ns8fSimIvfDeletedSql,
    "ns8g_sim_ivf_compacted" -> ns8fSimIvfDeletedSql,
    "ns8h_sim_ivf_folded" -> ns8hSimIvfFoldedSql,
    "ns8i_sim_ivf_auto" -> ns8iSimIvfAutoSql,
    "ns9_lang_id" -> ns9LangIdSql,
    "ns10_quality" -> ns10QualitySql,
    "ns11_tokens" -> ns11TokensSql,
    "ns12_fingerprint" -> ns12FingerprintSql,
    "ns13_multimodal_decode" -> ns13MultimodalDecodeSql,
    "ns14_frame_sample" -> ns14FrameSampleSql,
    "ns66_phash" -> ns66PhashSql,
    "ns66b_phash_pairs" -> ns66bPhashPairsSql,
    "ns66c_phash_increment" -> ns66cPhashIncrementSql,
    "ns66d_phash_streamed" -> ns66cPhashIncrementSql,
    "ns66e_phash_compacted" -> ns66ePhashCompactedSql,
    "ns67_jsonl_quarantine" -> ns67JsonlQuarantineSql,
    "ns67b_jsonl_gz" -> ns67bJsonlGzSql,
    "ns68_takedown" -> ns68TakedownSql,
    "ns68b_takedown_swept" -> ns68TakedownSql,
    "ns68c_takedown_ledger" -> ns68cTakedownLedgerSql,
    "ns69_warc" -> ns69WarcSql,
    "ns69b_warc_gz" -> ns69bWarcGzSql,
    "ns71_url_canon" -> ns71UrlCanonSql,
    "ns16_dedup_clusters" -> ns16DedupClustersSql,
    "ns17_sample_split" -> ns17SampleSplitSql,
    "ns18_tfidf" -> ns18TfidfSql,
    "ns19_redact" -> ns19RedactSql,
    "ns20_repetition" -> ns20RepetitionSql,
    "ns21b_resize_dims" -> ns21bResizeDimsSql,
    "ns21c_resize_decoded" -> ns21cResizeDecodedSql,
    "ns22_corpus_prep" -> ns22CorpusPrepSql,
    "ns23_contamination" -> ns23ContaminationSql,
    "ns24_vocab" -> ns24VocabSql,
    "ns24b_vocab_sketch" -> ns24VocabSql,
    "ns25_pack" -> ns25PackSql,
    "ns26_release" -> ns26ReleaseSql,
    "ns27_mixture" -> ns27MixtureSql,
    "ns28_dup_ngrams" -> ns28DupNgramsSql,
    "ns29_lm_score" -> ns29LmScoreSql,
    "ns30_contamination_bloom" -> ns23ContaminationSql,
    "ns31_budget_select" -> ns31BudgetSelectSql,
    "ns32_normalize" -> ns32NormalizeSql,
    "ns33_ntile" -> ns33NtileSql,
    "ns34_dedup_incremental" -> ns34DedupIncrementalSql,
    "ns35_dup_paragraphs" -> ns35DupParagraphsSql,
    "ns36_para_jaccard" -> ns36ParaJaccardSql,
    "ns37_chunks" -> ns37ChunksSql,
    "ns38_weighted_sample" -> ns38WeightedSampleSql,
    "ns39_prefix_join" -> ns39PrefixJoinSql,
    "ns40_bigram_lm" -> ns40BigramLmSql,
    "ns41_naive_bayes" -> ns41NaiveBayesSql,
    "ns42_bpe" -> ns42BpeSql,
    "ns42b_bpe_segment" -> ns42bBpeSegmentSql,
    "ns43_collocations" -> ns43CollocationsSql,
    "ns44_semdedup" -> ns44SemDedupSql,
    "ns44b_semdedup_capped" -> ns44bSemDedupCappedSql,
    "ns44c_semdedup_auto" -> ns44cSemDedupAutoSql,
    "ns45_random_projection" -> ns45RandomProjectionSql,
    "ns46_bm25" -> ns46Bm25Sql,
    "ns46g_bm25_capped_df" -> ns46gBm25CappedDfSql,
    "ns46b_bm25_served" -> ns46Bm25Sql,
    "ns46h_bm25_served_capped" -> ns46gBm25CappedDfSql,
    "ns46i_bm25_auto" -> ns46iBm25AutoSql,
    "ns46j_bm25_served_auto" -> ns46jBm25ServedAutoSql,
    "ns46c_bm25_appended" -> ns46Bm25Sql,
    "ns46d_bm25_deleted" -> ns46dBm25DeletedSql,
    "ns46e_bm25_compacted" -> ns46dBm25DeletedSql,
    "ns46f_bm25_folded" -> ns46dBm25DeletedSql,
    "ns47_centroids" -> ns47CentroidsSql,
    "ns48_rocchio" -> ns48RocchioSql,
    "ns49_pca_power" -> ns49PcaPowerSql,
    "ns49b_pca_project" -> ns49bPcaProjectSql,
    "ns50_hybrid_rrf" -> ns50HybridRrfSql,
    "ns51_embed_outliers" -> ns51EmbedOutliersSql,
    "ns52_dedup_survivors" -> ns52DedupSurvivorsSql,
    "ns53_leakfree_split" -> ns53LeakFreeSplitSql,
    "ns54_temperature_mix" -> ns54TemperatureMixSql,
    "ns55_exact_substr" -> ns55ExactSubstrSql,
    "ns55b_substr_incremental" -> ns55bSubstrIncrementalSql,
    "ns55c_substr_compacted" -> ns55bSubstrIncrementalSql,
    "ns55d_substr_deleted" -> ns55dSubstrDeletedSql,
    "ns55e_substr_del_compacted" -> ns55dSubstrDeletedSql,
    "ns56_shuffle_order" -> ns56ShuffleOrderSql,
    "ns57_hard_negatives" -> ns57HardNegativesSql,
    "ns57b_hard_negatives_auto" -> ns57bHardNegativesAutoSql,
    "ns58_decontam_spans" -> ns58DecontamSpansSql,
    "ns59_mmr_rerank" -> ns59MmrRerankSql,
    "ns60_epoch_order" -> ns60EpochOrderSql,
    "ns64_train_export" -> ns64TrainExportSql,
    "ns65_rag_serve" -> ns65RagServeSql,
    "ns61_bottomk_sample" -> ns61BottomkSampleSql,
    "ns61b_bottomk_merged" -> ns61BottomkSampleSql,
    "ns62_user_histories" -> ns62UserHistoriesSql,
    "ns63_negative_samples" -> ns63NegativeSamplesSql,
  )
}
