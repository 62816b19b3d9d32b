package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level operators a training-data pipeline runs after cleaning
  * and dedup: benchmark decontamination, vocabulary statistics, and
  * sequence packing. All are declarative plans over hashed n-grams /
  * token counts — the shuffles move 8-byte longs, never text.
  */
object Corpus {

  /** Benchmark decontamination: for every training document, how many
    * of its distinct word n-grams also appear in the eval/benchmark
    * corpus. The industry-standard test-set-overlap check (high-n
    * n-gram collision ⇒ the training doc leaks eval content and must
    * be dropped before training).
    *
    * Shape: both sides shingle → hash60 → the eval side is distinct
    * n-gram hashes only (tiny — eval sets are a few thousand docs even
    * when the training corpus is 100 TB, so AQE broadcasts it); one
    * equi-join on the hash + one groupBy(doc_id). Only flagged docs are
    * returned; `contamination_ratio` = flagged / distinct n-grams.
    */
  def contamination(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val t = train
      .select(col("doc_id"),
        explode(HashUtils.wordShingles(col("text"), n)).as("s"))
      .select(col("doc_id"), HashUtils.hash60(col("s")).as("h"))
    val e = eval
      .select(explode(HashUtils.wordShingles(col("text"), n)).as("s"))
      .select(HashUtils.hash60(col("s")).as("h"))
      .distinct()
      .withColumn("hit", lit(1))
    // ONE pass over the expensive shingle+hash stage: a left join
    // against the (broadcast-sized) eval hashes marks each n-gram,
    // and a single groupBy yields both the denominator and the hit
    // count — two independent consumers of `t` would re-run the whole
    // shingle scan per consumer (the CollapseProject hazard).
    t.join(e, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_contaminated"),
        count(lit(1)).as("n_ngrams"))
      .filter(col("n_contaminated") > 0)
      .withColumn("contamination_ratio",
        round(col("n_contaminated").cast("double") / col("n_ngrams"), 6))
      .select(col("doc_id"), col("n_contaminated"), col("n_ngrams"),
        col("contamination_ratio"))
  }

  /** [[contamination]]'s runtime-filter sibling: identical output, but
    * the candidate set entering the equi-join is prefiltered by a
    * Bloom filter of the eval n-gram hashes
    * ([[graft.functions.BloomFilterBuilder]]). Same results because a
    * Bloom filter has NO false negatives and the exact join refines
    * away its false positives — so this registers against the very
    * same DuckDB oracle as ns23.
    *
    * Why it exists: [[contamination]] leans on AQE broadcasting the
    * eval hash set. When the eval/blocklist side outgrows the
    * broadcast threshold (a 10^8-hash blocklist is ~1 GB as a hash
    * relation), the join degrades to shuffling EVERY training n-gram.
    * The bitset stays m/8 bytes regardless of element count; shipped
    * as a plan literal it prefilters map-side, so only candidate
    * grams (true hits + the ~(1-e^{-kn/m})^k false-positive sliver)
    * ever shuffle. The denominator count is a SECOND map-only pass
    * over the shingle stage (the raw-text exchange is reused; the
    * explode+hash computes per branch) — deliberately so: the
    * alternative single-pass form left-joins EVERY gram against the
    * eval set, which in the beyond-broadcast regime this operator
    * exists for means shuffling the whole corpus's gram stream. Two
    * columnar scans beat one corpus-wide shuffle at 100 TB.
    *
    * The bitset build collects mBits/8 bytes to the driver — a
    * BOUNDED driver action (128 KiB at the default 2^20), independent
    * of eval cardinality.
    */
  def contaminationBloom(train: DataFrame, eval: DataFrame, n: Int,
      mBits: Int = 1 << 20, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.Encoders
    val evalHashes = eval
      .select(explode(HashUtils.wordShingles(col("text"), n)).as("s"))
      .select(HashUtils.hash60(col("s")).as("h"))
      .distinct()
    val bloom: Array[Long] = evalHashes
      .select(col("h")).as[Long](Encoders.scalaLong)
      .select(new graft.functions.BloomFilterBuilder(mBits, k).toColumn)
      .head()
    val t = train
      .select(col("doc_id"),
        explode(HashUtils.wordShingles(col("text"), n)).as("s"))
      .select(col("doc_id"), HashUtils.hash60(col("s")).as("h"))
    // one scan: every gram counts toward the denominator; only grams
    // surviving the Bloom prefilter carry a candidate mark into the
    // (now candidate-only) exact-refine join
    val cand = t.filter(
      graft.functions.BloomFilter.mightContain(bloom, col("h"), k, mBits))
    val hits = cand
      .join(evalHashes, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    t.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      .join(hits, Seq("doc_id"))
      .withColumn("contamination_ratio",
        round(col("n_contaminated").cast("double") / col("n_ngrams"), 6))
      .select(col("doc_id"), col("n_contaminated"), col("n_ngrams"),
        col("contamination_ratio"))
  }

  /** Deterministic corpus mixture sampling — the data-mixing step of a
    * training run: given target per-source weights, select the largest
    * corpus whose source composition matches them exactly. The
    * achievable total is limited by the scarcest source relative to
    * its weight (T = min_s floor(n_s / w_s)); each source contributes
    * its floor(w_s · T) docs, chosen by md5-hash rank of doc_id so the
    * sample is content-independent, reproducible across runs/engines,
    * and stable under corpus append (a doc's rank only grows).
    *
    * Shape: the selection is "the floor(w_s·T) docs with the smallest
    * (hash, doc_id) per source" — but a direct per-source `row_number`
    * window hash-partitions on `source`, a handful of distinct values,
    * so at 100 TB ONE task would sort an entire source. Instead the
    * rank is computed two-level: a tiny per-(source, hash-bucket)
    * histogram (≤ |sources|·4096 rows after map-side combine) yields
    * each bucket's cumulative row offset within its source, and the
    * expensive window ranks only WITHIN (source, bucket) — 4096-way
    * parallel per source — with the global rank recovered as
    * offset + within-bucket rank. The bucket is the hash's top 12 bits
    * (monotonic in the hash), so concatenating bucket-local
    * (hash, doc_id) orders reproduces the global order exactly: the
    * result is bit-identical to the naive single-window rank, which is
    * what the oracle states. Buckets that lie entirely past a source's
    * n_target are dropped map-side before the shuffle, so when
    * n_target ≪ n_available most rows never shuffle at all. Sources
    * absent from `weights` are excluded; a WEIGHTED source with zero
    * matching docs drives
    * T to 0 and the result is EMPTY — the contract is "composition
    * matches the weights exactly", and an absent ingredient makes that
    * unsatisfiable at any size (a silent min over present-only sources
    * would return a skewed corpus that looks valid). Weight arithmetic
    * happens in IEEE doubles on both engines, so the oracle mirrors it
    * literally; prefer exactly representable weights (halves/quarters)
    * for boundary stability.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double])
      : DataFrame = {
    require(weights.nonEmpty, "need at least one source weight")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val wSum = weights.values.toSeq.sorted.sum // sorted: deterministic fold
    // the weights relation is the LEFT side so every requested source
    // appears in the plan even with zero matching docs (count → 0)
    val wDf = weights.toSeq.sortBy(_._1)
      .map { case (s, w) => (s, w / wSum) }.toDF("source", "w")
    val inScope = docs.filter(
      col("source").isin(weights.keys.toSeq.map(x => x: Any): _*))
    val plan = wDf
      .join(inScope.groupBy(col("source"))
        .agg(count(lit(1)).as("n_available")), Seq("source"), "left")
      .withColumn("n_available", coalesce(col("n_available"), lit(0L)))
      .withColumn("t",
        min(floor(col("n_available") / col("w")))
          .over(Window.partitionBy(lit(1))))
      .withColumn("n_target", floor(col("w") * col("t")).cast("long"))
      .select(col("source"), col("n_target"))
    // Two-level exact rank (see shape note above); machinery shared
    // with TextAnalysis.stratifiedSample via cappedHashRank.
    cappedHashRank(
      inScope.select(col("doc_id"), col("source")), "doc_id",
      Seq("source"), plan)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Temperature-weighted (α-smoothed) corpus mixture WITH
    * up-sampling — the other standard data-mixing shape next to
    * [[mixtureSample]]'s explicit weights: source s gets weight
    * w_s ∝ n_s^α (α < 1 flattens the source distribution toward
    * uniform — the mC4/multilingual smoothing; α = 1 is proportional),
    * and contributes n_target = ⌊w_s · budget⌋ EXAMPLES, which for a
    * rare source may exceed its n_s docs: the source is repeated —
    * ⌊n_target / n_s⌋ full passes (every doc, epoch = 0, 1, …) plus a
    * partial epoch of the n_target mod n_s docs with the smallest
    * md5-hash rank (the [[cappedHashRank]] machinery, so the partial
    * pass is content-independent, reproducible, and never sorts a
    * whole source in one task). Output is one row per (doc_id,
    * epoch) — the repetition manifest a training loader consumes, and
    * the doc-level form of what epoch-weighted corpus specs (Pile,
    * ROOTS) publish as a table.
    *
    * Determinism: the normalized weight is rounded to 9 dp before the
    * ⌊w · budget⌋ cut — pow() is ≤1-ulp on both engines rather than
    * correctly rounded, and the rounding makes the two engines' floor
    * agree unless the true weight sits within ~1e-7 of a rounding
    * boundary (the mixtureSample IEEE-weights caveat, narrowed).
    * Sources are never silently dropped: every source has n_s ≥ 1 by
    * construction (it appears in the data), so zero-target sources
    * simply contribute no rows.
    */
  def temperatureMixture(docs: DataFrame, alpha: Double,
      budget: Long): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    // w < 1, so w·budget is double-exact only while budget < 2^52 —
    // beyond that the ⌊w·budget⌋ cut (and the oracle's) would round in
    // the mantissa. 2^52 examples is four orders past any published
    // corpus; fail loudly rather than quietly lose grains.
    require(budget > 0 && budget < (1L << 52),
      "budget must be in (0, 2^52) — the floor(w*budget) cut is " +
        "double-exact only in that range")
    val wW = Window.partitionBy(lit(1))
    val plan = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_available"))
      .withColumn("_wraw",
        pow(col("n_available").cast("double"), lit(alpha)))
      .withColumn("w", round(col("_wraw") / sum(col("_wraw")).over(wW), 9))
      .withColumn("n_target",
        floor(col("w") * lit(budget.toDouble)).cast("long"))
      // INTEGER division (Spark's `div`), not floor(a / b): `/` on two
      // longs is DOUBLE division, and once n_target outgrows 2^50 a
      // half-ulp-above-integer quotient would floor UP — full_epochs
      // one too many, rem negative, and a divergence from the oracle's
      // exact `//`. Integer div is exact at every magnitude.
      .withColumn("full_epochs",
        expr("n_target div n_available"))
      .withColumn("rem",
        col("n_target") - col("full_epochs") * col("n_available"))
      .select(col("source"), col("n_available"), col("n_target"),
        col("full_epochs"), col("rem"))
    val ids = docs.select(col("doc_id"), col("source"))
    // full passes: every doc of the source, one row per epoch — the
    // explode is per-row work proportional to the emitted manifest
    val fullPart = ids
      .join(broadcast(plan.select(col("source"), col("full_epochs"))),
        Seq("source"))
      .filter(col("full_epochs") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("full_epochs") - 1)))
    // the partial pass: smallest-hash-rank rem docs, two-level rank so
    // no single task ever sorts a whole source
    val remPart = cappedHashRank(ids, "doc_id", Seq("source"),
        plan.select(col("source"), col("rem").as("n_target")))
      .join(broadcast(plan.select(col("source"), col("full_epochs"))),
        Seq("source"))
      .withColumn("epoch", col("full_epochs"))
    fullPart.select(col("doc_id"), col("source"), col("epoch"))
      .unionByName(
        remPart.select(col("doc_id"), col("source"), col("epoch")))
  }

  /** Per-group exact hash rank with a per-group keep cap, computed
    * WITHOUT a per-group global window — the shared scale-safe core of
    * [[mixtureSample]] and [[TextAnalysis.stratifiedSample]]. A direct
    * `row_number().over(partitionBy(group))` hash-partitions on the
    * group column — a handful of distinct values — so at 100 TB one
    * task sorts an entire group. Instead the rank is two-level: the
    * hash's top 12 bits bucket it monotonically, a tiny per-(group,
    * bucket) histogram (≤ |groups|·4096 rows after map-side combine)
    * yields each bucket's cumulative offset, and the expensive window
    * ranks only WITHIN (group, bucket) — 4096-way parallel per group —
    * with the global rank recovered as offset + within-bucket rank.
    * Concatenating bucket-local (hash, id) orders in bucket order
    * reproduces the global order exactly, so the result is
    * bit-identical to the naive single-window rank (which is what the
    * ns17/ns27 oracles state). Buckets lying entirely past a group's
    * cap are dropped map-side BEFORE the shuffle, so when the cap ≪
    * group size most rows (payload included) never shuffle at all.
    *
    * `targets` must hold `groupCols` + `n_target` and be
    * broadcast-small (one row per group). Returns `rows`' columns plus
    * the 1-based `rk`, filtered to `rk <= n_target`. Null group values
    * form their own stratum (the joins are null-safe), matching what a
    * `row_number().over(partitionBy(group))` window — and the ns17
    * oracle — does with NULL partitions.
    */
  def cappedHashRank(rows: DataFrame, idCol: String,
      groupCols: Seq[String], targets: DataFrame): DataFrame = {
    val reserved = Seq("_h", "_bkt", "_off", "rk", "n_target", "_o_bkt") ++
      groupCols.flatMap(c => Seq(s"_t_$c", s"_o_$c"))
    val taken = rows.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"inputs may not use the reserved working names $taken")
    val h = HashUtils.hash60(col(idCol).cast("string"))
    val bucketed = rows.withColumn("_h", h)
      .withColumn("_bkt", shiftrightunsigned(col("_h"), 48))
    val gb = (groupCols :+ "_bkt").map(col)
    val offsets = bucketed.groupBy(gb: _*)
      .agg(count(lit(1)).as("_n_bkt"))
      .withColumn("_off",
        coalesce(
          sum(col("_n_bkt")).over(
            Window.partitionBy(groupCols.map(col): _*).orderBy(col("_bkt"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select((groupCols :+ "_bkt" :+ "_off").map(col): _*)
    val rk = Window.partitionBy(gb: _*).orderBy(col("_h"), col(idCol))
    // prefixed copies of the group columns on the broadcast sides so
    // the join can be NULL-SAFE (<=>): a plain equi-join would silently
    // drop every null-keyed stratum that groupBy/Window faithfully kept
    val tgtR = groupCols.foldLeft(targets)(
      (d, c) => d.withColumnRenamed(c, s"_t_$c"))
    val offR = groupCols.foldLeft(offsets)(
      (d, c) => d.withColumnRenamed(c, s"_o_$c"))
      .withColumnRenamed("_bkt", "_o_bkt")
    bucketed
      .join(broadcast(tgtR),
        groupCols.map(c => col(c) <=> col(s"_t_$c")).reduce(_ && _))
      .join(broadcast(offR),
        (groupCols.map(c => col(c) <=> col(s"_o_$c")) :+
          (col("_bkt") <=> col("_o_bkt"))).reduce(_ && _))
      // a bucket whose offset already reaches the cap can contribute
      // nothing — drop it before the shuffle (map-only prune)
      .filter(col("_off") < col("n_target"))
      .withColumn("rk", row_number().over(rk) + col("_off"))
      .filter(col("rk") <= col("n_target"))
      .drop(Seq("_h", "_bkt", "_off", "n_target", "_o_bkt") ++
        groupCols.flatMap(c => Seq(s"_t_$c", s"_o_$c")): _*)
  }

  /** Per-group smallest-`idCol` prefix (first `cap` rows per group in
    * id order) computed WITHOUT a per-group window —
    * [[cappedHashRank]]'s monotone-bucket decomposition specialized to
    * ID order. A direct `row_number().over(partitionBy(group)
    * .orderBy(id))` serializes each group through one task, so a group
    * holding a constant fraction of the input (exactly the regime the
    * callers cap against) is a single-core sort of a corpus-constant
    * fraction of N. Here the id is bucketed MONOTONICALLY (≤ 4096
    * buckets over the observed id range), a tiny per-(group, bucket)
    * histogram yields each bucket's cumulative offset, and the window
    * ranks only within (group, bucket) — 4096-way parallel per group —
    * with the global prefix recovered as offset + within-bucket rank.
    * Buckets whose offset already reaches `cap` are dropped BEFORE the
    * rank shuffle, so a hot group moves only the buckets overlapping
    * its first `cap` ids. The kept SET is bit-identical to the naive
    * window form, which is what the ns8i oracle states — PROVIDED
    * `idCol` is unique within each group: when duplicate ids straddle
    * the cap boundary, both forms tie-break nondeterministically and
    * can diverge run-to-run (r13 advice). Callers must pre-dedup or
    * pick a unique id; the library call sites satisfy this by
    * construction ([[graft.ml.Similarity.writeBinaryIndex]] and
    * [[graft.ml.Similarity.writeIvfPqIndex]] enforce unique vec_ids
    * at build).
    *
    * Bucketing is ANSI-safe by construction: when the observed id
    * range fits 62 bits (every realistic corpus) the shift operates on
    * `id - min` (provably non-negative, no overflow); a range past
    * 2^62 falls back to the order-preserving unsigned image
    * (`id XOR Long.MinValue`, pure bit ops) whose top 12 bits still
    * spread a range that wide. Balance assumes ids roughly uniform
    * over their observed range (sequential ids are perfectly
    * balanced); an outlier-stretched range degrades toward the window
    * form's parallelism, never its correctness. `idCol` must be an
    * integral column; null group values form their own stratum (the
    * offset join is null-safe), matching the window form. NULL ids
    * form their own bucket (both joins are null-safe on it), and
    * since an ascending sort puts nulls FIRST, that bucket sorts
    * before every shifted non-negative bucket value — so null-id
    * rows occupy the front of each group's prefix, exactly where the
    * window form ranks them (the r13 review finding: a plain bucket
    * equality silently dropped them).
    */
  def cappedIdPrefix(rows: DataFrame, idCol: String,
      groupCols: Seq[String], cap: Long): DataFrame = {
    require(cap > 0L, "cap must be positive")
    val reserved = Seq("_bkt", "_n_bkt", "_off", "_rk", "_o_bkt") ++
      groupCols.map(c => s"_o_$c")
    val taken = rows.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"inputs may not use the reserved working names $taken")
    val id = col(idCol).cast("long")
    // ONE bounded aggregate (a single row) sizes the bucket shift;
    // min/max skip nulls, so an input with no non-null id at all
    // (or empty) gets the degenerate single null bucket — the window
    // form's behavior, not an empty result
    val mm = rows.agg(min(id).as("mn"), max(id).as("mx")).head()
    val bkt =
      if (mm.isNullAt(0)) lit(null).cast("long")
      else {
        val mn = mm.getLong(0)
        val range = BigInt(mm.getLong(1)) - BigInt(mn)
        if (range.bitLength <= 62)
          shiftrightunsigned(id - lit(mn),
            math.max(0, range.bitLength - 12))
        else shiftrightunsigned(id.bitwiseXOR(lit(Long.MinValue)), 52)
      }
    val bucketed = rows.withColumn("_bkt", bkt)
    val gb = (groupCols :+ "_bkt").map(col)
    val offsets = bucketed.groupBy(gb: _*)
      .agg(count(lit(1)).as("_n_bkt"))
      .withColumn("_off",
        coalesce(
          sum(col("_n_bkt")).over(
            Window.partitionBy(groupCols.map(col): _*)
              .orderBy(col("_bkt"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select((groupCols :+ "_bkt" :+ "_off").map(col): _*)
    val offR = groupCols.foldLeft(offsets)(
      (d, c) => d.withColumnRenamed(c, s"_o_$c"))
      .withColumnRenamed("_bkt", "_o_bkt")
    val rk = Window.partitionBy(gb: _*).orderBy(id)
    bucketed
      .join(broadcast(offR),
        (groupCols.map(c => col(c) <=> col(s"_o_$c")) :+
          (col("_bkt") <=> col("_o_bkt"))).reduce(_ && _))
      // a bucket whose offset already reaches the cap contributes
      // nothing — dropped map-side, before the rank shuffle
      .filter(col("_off") < cap)
      .withColumn("_rk", row_number().over(rk) + col("_off"))
      .filter(col("_rk") <= cap)
      .drop(Seq("_bkt", "_off", "_rk", "_o_bkt") ++
        groupCols.map(c => s"_o_$c"): _*)
  }

  /** Per-document average log-probability under the corpus's own
    * unigram distribution — the classic cheap perplexity proxy for
    * quality filtering: gibberish / rare-token-heavy documents score
    * far below fluent ones, and the score needs no trained model, just
    * the corpus itself. score(d) = Σ_t k_t·ln(cnt_t / N) / Σ_t k_t
    * over d's terms (k_t = in-doc count, cnt_t = corpus count, N =
    * total tokens).
    *
    * Shape: terms hash to 60-bit longs BEFORE any shuffle (strings
    * never leave the scan stage); the per-(doc, term) count and the
    * corpus frequency table both hang off the SAME groupBy(doc_id, h)
    * subplan, which Spark reuses as one exchange (identical canonical
    * form → ReusedExchange, the ns2 posting-list pattern), so the
    * tokenize scan runs once; the total-token count is a one-row
    * crossJoin broadcast. The frequency join shuffles vocab-bounded
    * rows, not the corpus.
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val th = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"), HashUtils.hash60(col("term")).as("h"))
    val dt = th.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("k"))
    val freq = dt.groupBy(col("h")).agg(sum(col("k")).as("cnt"))
    val total = freq.agg(sum(col("cnt")).cast("double").as("total"))
    dt.join(freq, Seq("h"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        round(
          sum(col("k") * log(col("cnt").cast("double") / col("total")))
            / sum(col("k")), 6).as("lm_score"))
      .select(col("doc_id"), col("n_tokens"), col("lm_score"))
  }

  /** Interpolated bigram-LM quality score — the order-sensitive
    * upgrade of [[unigramLogProb]]: per-doc average
    * ln(λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N) over the doc's bigram
    * POSITIONS (a multiset, not the distinct-set universe the dedup
    * operators use — word order and repetition are the signal here).
    * The unigram interpolation floor keeps every term finite without
    * add-k smoothing: any bigram present in a doc is present in the
    * corpus counts too (they are built from the same rows), and its
    * unigram term is always > 0.
    *
    * Scale shape: bigram occurrences group to (doc, h12) with
    * multiplicity BEFORE joining the corpus count tables, so the three
    * count joins move one row per distinct bigram per doc, not one per
    * token position; all hashes are 60-bit longs (the md5 convention
    * the DuckDB gate shares); the totals row broadcasts.
    */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.75): DataFrame = {
    val words = docs
      .select(col("doc_id"), split(col("text"), " ").as("_ws"))
    val bg = words.filter(size(col("_ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("_ws")) - 2),
          i => struct(element_at(col("_ws"), i + 1).as("w1"),
            element_at(col("_ws"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"),
        HashUtils.hash60(col("p.w1")).as("h1"),
        HashUtils.hash60(col("p.w2")).as("h2"),
        HashUtils.hash60(concat_ws(" ", col("p.w1"), col("p.w2")))
          .as("h12"))
    val db = bg.groupBy(col("doc_id"), col("h1"), col("h2"), col("h12"))
      .agg(count(lit(1)).as("k"))
    val big = db.groupBy(col("h12")).agg(sum(col("k")).as("c12"))
    val uni = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .select(HashUtils.hash60(col("term")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).cast("double").as("total"))
    // the default λ = 0.75 and its complement 0.25 are both exact
    // binary fractions, so the engine's double literals and the
    // oracle's decimal-parsed literals are the same IEEE values —
    // 0.7/0.3 would differ by one ulp between the engines
    val lam1 = 1.0 - lambda
    db.join(big, Seq("h12"))
      .join(uni.select(col("h").as("h1"), col("cu").as("c1")), Seq("h1"))
      .join(uni.select(col("h").as("h2"), col("cu").as("c2")), Seq("h2"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        round(sum(col("k") * log(
          lit(lambda) * col("c12") / col("c1") +
            lit(lam1) * col("c2") / col("total"))) / sum(col("k")), 6)
          .as("lm2_score"))
      .select(col("doc_id"), col("n_bigrams"), col("lm2_score"))
  }

  /** Collocation mining via pointwise mutual information — the
    * word2phrase step of corpus preparation: bigrams whose observed
    * frequency beats the independence expectation get merged into
    * phrase tokens downstream. PMI = ln(P(w₁w₂)/(P(w₁)P(w₂))) with
    * bigram positions as the joint space and unigram occurrences as
    * the marginals, emitted only for pairs seen ≥ minCount times (the
    * standard noise floor — rare pairs have unstable PMI).
    *
    * Scale shape: bigrams group on their 60-bit hash (the shuffle key
    * is 8 bytes; the words ride as map-side-combined min() payloads),
    * the two marginal joins are hash-keyed, and the totals rows
    * broadcast. The PMI is computed as a SUM OF LOGS, never a product
    * of counts — c₁₂·N² overflows a long at corpus scale under ANSI,
    * ln(c₁₂)−ln(N_b)−ln(c₁)−ln(c₂)+2ln(N_u) never does.
    */
  def collocations(docs: DataFrame, minCount: Long): DataFrame = {
    val ws = docs.select(split(col("text"), " ").as("_ws"))
    val bg = ws.filter(size(col("_ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("_ws")) - 2),
        i => struct(element_at(col("_ws"), i + 1).as("w1"),
          element_at(col("_ws"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"),
        HashUtils.hash60(concat_ws(" ", col("p.w1"), col("p.w2")))
          .as("h12"))
    val big = bg.groupBy(col("h12"))
      .agg(count(lit(1)).as("c12"),
        min(col("w1")).as("w1"), min(col("w2")).as("w2"))
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .select(HashUtils.hash60(col("w")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cu"))
    val nb = big.agg(sum(col("c12")).as("nb"))
    val nu = uni.agg(sum(col("cu")).as("nu"))
    big.filter(col("c12") >= minCount)
      .withColumn("h1", HashUtils.hash60(col("w1")))
      .withColumn("h2", HashUtils.hash60(col("w2")))
      .join(uni.select(col("h").as("h1"), col("cu").as("c1")), Seq("h1"))
      .join(uni.select(col("h").as("h2"), col("cu").as("c2")), Seq("h2"))
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(log(col("c12").cast("double")) -
          log(col("nb").cast("double")) -
          log(col("c1").cast("double")) -
          log(col("c2").cast("double")) +
          lit(2.0) * log(col("nu").cast("double")), 6).as("pmi"))
  }

  /** Token-budget corpus selection — the data-selection step of a
    * training run: order documents best-score-first and keep the
    * maximal prefix whose cumulative token cost fits `budget`. Greedy
    * prefix semantics (the first overflowing doc and everything after
    * it are dropped — no knapsack backfill), total order
    * (score desc, hash60(id), id) so the pick is deterministic and
    * engine-agnostic.
    *
    * Shape: a global `sum().over(orderBy(score))` running total would
    * sort the corpus into ONE task. Instead the [[cappedHashRank]]
    * trick transposed to a cumulative SUM: scores quantize into 4096
    * range buckets (monotone in score, so bucket order concatenates to
    * the global order; equal scores always share a bucket, so the
    * cross-bucket order is exact regardless of quantization), a tiny
    * per-bucket (rows, cost) histogram yields each bucket's cumulative
    * cost offset, buckets whose offset already exceeds the budget are
    * dropped map-side, and the running sum is computed only WITHIN
    * surviving buckets — 4096-way parallel — as offset + local cumsum.
    * Bit-identical to the naive global-window prefix, which is what
    * the oracle states. Degenerate all-equal-score corpora collapse to
    * one bucket (correct, just unparallel — the naive plan anyway).
    *
    * Returns the kept rows plus `cum_cost` (the running total through
    * each row).
    *
    * `scoreCol` and `idCol` must be NON-NULL (the [[scoreBucketed]]
    * contract: a null would silently vanish in the bucket equi-join
    * instead of sorting last like the naive window).
    * `costCol` must be NON-NEGATIVE: the map-side bucket prune assumes
    * the cumulative cost is monotone along the selection order, which a
    * negative cost breaks (a later row could re-enter the budget).
    * Token counts — the intended cost — are non-negative by nature.
    */
  /** Exact integer division as (a − a%b)/b: the operands are exactly
    * divisible, so the double quotient is an exact integer (Column `/`
    * is double division; a raw floor(a/b) could mis-round near huge
    * values). Shared by every chunk/tile derivation in this file.
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** Shared monotone score-bucket decomposition behind
    * [[budgetSelect]] and [[ntileByScore]]: 4096 buckets walk the
    * (score desc) selection order, `weight` aggregates each bucket's
    * contribution (cost sum or row count), and `_off` is the
    * exclusive prefix total over all better buckets — so the
    * expensive window runs within buckets only and global position =
    * _off + local position. `extraStats` ride the same one-pass
    * stats aggregate and stay on the bucketed frame.
    *
    * Scores and ids must be NON-NULL: a null score (or a null id,
    * whose hash60 is null) buckets to NULL and would silently vanish
    * in the _bkt equi-join instead of sorting last like the naive
    * window forms — the gated callers all feed rounded, non-null
    * scores, and new callers must too.
    */
  private def scoreBucketed(scored: DataFrame, scoreCol: String,
      idCol: String, weight: Column, extraStats: Seq[Column] = Nil)
      : (DataFrame, DataFrame) = {
    val nBuckets = 4096
    val stats = scored.agg(min(col(scoreCol)).as("_mn"),
      (max(col(scoreCol)).as("_mx") +: extraStats): _*)
    val bucketed = scored.crossJoin(broadcast(stats))
      .withColumn("_w",
        greatest((col("_mx") - col("_mn")) / nBuckets, lit(1e-12)))
      // floor((mx - score)/w): monotone DECREASING in score, so bucket
      // 0 holds the best scores and ascending buckets walk the
      // selection order; clamp the max-score edge case into the range
      .withColumn("_bkt",
        least(floor((col("_mx") - col(scoreCol)) / col("_w")),
          lit(nBuckets - 1)).cast("long"))
      .withColumn("_h", HashUtils.hash60(col(idCol).cast("string")))
      .drop("_mn", "_mx", "_w")
    val offsets = bucketed.groupBy(col("_bkt"))
      .agg(weight.as("_c"))
      .withColumn("_off",
        coalesce(
          sum(col("_c")).over(Window.orderBy(col("_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("_bkt"), col("_off"))
    (bucketed, offsets)
  }

  def budgetSelect(scored: DataFrame, scoreCol: String, costCol: String,
      idCol: String, budget: Long): DataFrame = {
    val reserved = Seq("_mn", "_mx", "_w", "_bkt", "_h", "_off", "cum_cost")
    val taken = scored.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"input may not use the reserved working names $taken")
    val (bucketed, offsets) =
      scoreBucketed(scored, scoreCol, idCol, sum(col(costCol)))
    val local = Window.partitionBy(col("_bkt"))
      .orderBy(col(scoreCol).desc, col("_h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .join(broadcast(offsets), Seq("_bkt"))
      // a bucket whose offset alone EXCEEDS the budget cannot
      // contribute — drop it before the shuffle (map-only prune).
      // <= (not <): a zero-cost row in a bucket whose offset lands
      // exactly on the budget has cum_cost == budget and must survive,
      // matching the naive-window oracle at the boundary
      .filter(col("_off") <= budget)
      .withColumn("cum_cost", sum(col(costCol)).over(local) + col("_off"))
      .filter(col("cum_cost") <= budget)
      .drop("_bkt", "_h", "_off")
  }

  /** Exact global quantile binning (SQL `ntile` semantics) WITHOUT the
    * global sort `ntile().over(orderBy(...))` forces into one task —
    * the corpus-difficulty / quality-tier labeling step (e.g. decile
    * by LM score for curriculum mixing). Total order is (score desc,
    * hash60(id), id), ties broken deterministically, so the label is
    * engine-agnostic and the DuckDB `ntile` window states the oracle.
    * `scoreCol` and `idCol` must be NON-NULL (the [[scoreBucketed]]
    * contract).
    *
    * Shape: [[budgetSelect]]'s monotone score-bucket decomposition
    * with ROW COUNTS in place of cost sums — a 4096-bucket histogram
    * yields each bucket's global row offset, the expensive window
    * ranks only within buckets, and global rank = offset + local rank
    * reproduces the single-window rank bit-for-bit. The ntile label
    * then derives from the rank by the standard remainder rule: with
    * N rows in n tiles, q = N/n and r = N%n, the first r tiles carry
    * q+1 rows. N itself is a one-row broadcast.
    */
  def ntileByScore(scored: DataFrame, scoreCol: String, idCol: String,
      tiles: Int): DataFrame = {
    require(tiles > 0, "need at least one tile")
    val reserved = Seq("_mn", "_mx", "_n", "_w", "_bkt", "_h", "_off",
      "_rk", "tile")
    val taken = scored.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"input may not use the reserved working names $taken")
    val (bucketed, offsets) = scoreBucketed(scored, scoreCol, idCol,
      count(lit(1)), extraStats = Seq(count(lit(1)).as("_n")))
    val local = Window.partitionBy(col("_bkt"))
      .orderBy(col(scoreCol).desc, col("_h"), col(idCol))
    val rk = row_number().over(local) + col("_off")
    // ntile remainder rule on the exact global rank, via the shared
    // exact integer division
    val q = idiv(col("_n"), lit(tiles.toLong))
    val r = col("_n") % tiles
    val big = r * (q + 1) // rows living in the (q+1)-sized head tiles
    // q = 0 (fewer rows than tiles) puts every row in the head branch
    // (big = N ≥ rank), so the tail branch's value is never USED then —
    // but guard its divisor anyway: relying on lazy CASE-branch
    // evaluation is fragile under ANSI if codegen subexpression
    // elimination ever evaluates both arms (% 0 would throw)
    val qSafe = greatest(q, lit(1L))
    bucketed
      .join(broadcast(offsets), Seq("_bkt"))
      .withColumn("_rk", rk)
      .withColumn("tile",
        (when(col("_rk") <= big, idiv(col("_rk") - 1, q + 1))
          .otherwise(r + idiv(col("_rk") - big - 1, qSafe)) + 1).cast("int"))
      .drop("_bkt", "_h", "_off", "_n", "_rk")
  }

  /** Corpus vocabulary statistics: the `limit` most document-frequent
    * terms with their total occurrence counts — the input to tokenizer
    * training and stopword-list induction.
    *
    * Top-k is orderBy+limit (TakeOrdered — each partition ships k
    * candidates, no global-window single-partition bottleneck);
    * determinism via the (df, total, term) full tiebreak.
    */
  def vocabulary(docs: DataFrame, limit: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    tok.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("total"))
      .orderBy(col("df").desc, col("total").desc, col("term"))
      .limit(limit)
  }

  /** Vocabulary via the space-saving heavy-hitters sketch
    * ([[graft.functions.SpaceSavingTopTerms]]) — the scale path for
    * [[vocabulary]]: an exact term groupBy materializes the whole
    * distinct-term universe (billions of entries at 100 TB before the
    * top-k cut); the sketch carries at most `capacity` entries per
    * partition and per merge, so the shuffle is O(partitions ·
    * capacity) regardless of vocabulary size. Any term with true count
    * > totalTokens/capacity is guaranteed present; `max_overcount`
    * bounds each estimate's error.
    *
    * The finished sketch is capacity-bounded (small by construction),
    * so surfacing it through the driver is legitimate — it is a model
    * summary, not a data result.
    */
  def vocabularySketch(docs: DataFrame, topK: Int, capacity: Int)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs
      .select(explode(split(col("text"), " ")).as("term")).as[String]
    val sketch = terms
      .select(new graft.functions.SpaceSavingTopTerms(capacity).toColumn)
      .head()
    sketch.take(topK).toDF("term", "est_count", "max_overcount")
  }

  /** RAG-style document chunking: fixed token windows of `chunkSize`
    * words advancing by `stride` (overlap = chunkSize − stride) — the
    * standard retrieval/embedding prep step. A doc with n words yields
    * 1 + ceil(max(0, n − chunkSize)/stride) chunks, so every word
    * lands in at least one chunk and only the tail chunk may be short.
    *
    * Pure Column work (split → sequence → explode → slice): the whole
    * operator is one codegen'd map stage with NO shuffle — at 100 TB
    * it scales with scan bandwidth alone. `chunk_hash` (hash60 of the
    * chunk text) is emitted alongside so downstream chunk-level joins
    * (dedup, retrieval hit-lists) move 8-byte longs, never chunk text.
    */
  /** [[chunkTokens]] with the chunk TEXT materialized instead of
    * hashed — the form downstream indexing actually consumes (a RAG
    * stack retrieves over chunk text; the hash variant is the
    * dedup/audit form). Same window arithmetic, same shuffle-free
    * single map stage; output (doc_id, chunk_idx, text).
    */
  def chunkText(docs: DataFrame, chunkSize: Int, stride: Int)
      : DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      "stride must be in [1, chunkSize]")
    val words = split(col("text"), " ")
    val k = when(size(words) <= chunkSize, lit(0L))
      .otherwise(idiv(size(words) - chunkSize + (stride - 1), lit(stride)))
    docs
      .select(col("doc_id"), words.as("_w"), k.as("_k"))
      .select(col("doc_id"), col("_w"),
        explode(sequence(lit(0L), col("_k"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("_w"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(chunkSize))).as("text"))
  }

  def chunkTokens(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    // stride > chunkSize would silently drop the words between windows;
    // stride <= 0 is an infinite window walk — both are caller bugs
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      "stride must be in [1, chunkSize]")
    val words = split(col("text"), " ")
    // last chunk start k·stride: k = ceil((n − chunkSize)/stride) via
    // exact integer division (ANSI-safe; Column `/` is double division)
    val k = when(size(words) <= chunkSize, lit(0L))
      .otherwise(idiv(size(words) - chunkSize + (stride - 1), lit(stride)))
    docs
      .select(col("doc_id"), words.as("_w"), k.as("_k"))
      .select(col("doc_id"), col("_w"),
        explode(sequence(lit(0L), col("_k"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("_w"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkSize)).as("_cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("_cw")).cast("long").as("n_tokens"),
        HashUtils.hash60(concat_ws(" ", col("_cw"))).as("chunk_hash"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row draws a deterministic pseudo-uniform u ∈ (0, 1] from a
    * salted hash of its id and ranks by ln(u)/weight; the top-k under
    * that key is an exact weighted sample without replacement. The
    * hash-derived u (not rand()) makes the draw reproducible across
    * runs AND engines — the property the registry oracle relies on.
    *
    * Scale: orderBy(key desc).limit(k) plans as TakeOrderedAndProject —
    * per-partition top-k heaps merged once, never a global sort of the
    * corpus. Weights must be strictly positive (ln(u) ≤ 0; a zero or
    * negative weight would silently invert the ranking).
    */
  def weightedSample(rows: DataFrame, idCol: String, weight: Column,
      k: Int, salt: String): DataFrame = {
    require(k > 0, "k must be positive")
    require(!rows.columns.contains("_wkey"),
      "input must not contain the reserved working column _wkey")
    val u = (HashUtils.hash60(concat(lit(salt + ":"),
      col(idCol).cast("string"))) + 1).cast("double") /
      lit(1152921504606846976.0) // 2^60
    rows
      .withColumn("_wkey", log(u) / weight)
      .orderBy(col("_wkey").desc, col(idCol))
      .limit(k)
      .drop("_wkey")
  }

  /** Sequence packing — the concat-and-chunk step that turns variable-
    * length documents into fixed-capacity training rows: documents are
    * laid out in a deterministic order and cut into chunks of
    * `ctxLen` tokens; a document's chunk is `floor(tokens_before /
    * ctxLen)` within its shard.
    *
    * Packing is inherently sequential, so the scale move is to shard
    * FIRST (deterministic hash of doc_id) and pack within each shard:
    * the window is partitionBy(shard) — parallel across shards, no
    * global single-partition sort. Shard count = writer parallelism at
    * 100 TB (thousands), here a parameter.
    *
    * Returns one row per (shard, chunk) with its doc count, token sum,
    * and doc-id range — the manifest a training loader consumes.
    */
  def packSequences(docs: DataFrame, ctxLen: Int, shards: Int): DataFrame = {
    // ctxLen=0 is a double division by zero → null chunks; shards=0
    // makes pmod null → one null shard holding the whole corpus. Both
    // corrupt the manifest silently — fail at the call site instead
    require(ctxLen > 0, "ctxLen must be positive")
    require(shards > 0, "shards must be positive")
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("toks"),
      pmod(HashUtils.hash60(col("doc_id").cast("string")), lit(shards))
        .as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum", sum(col("toks")).over(w))
      // tokens_before / ctxLen via the shared exact integer division:
      // the raw double quotient could mis-round once a shard's running
      // token total crosses 2^53
      .withColumn("chunk",
        idiv(col("cum") - col("toks"), lit(ctxLen.toLong)))
      .groupBy(col("shard"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Pack an epoch-ordered training stream into fixed context
    * windows — the LAST stage of the end-to-end export chain
    * (temperature mixture → per-epoch shuffle → pack, gated as one
    * plan by ns64): each epoch's documents are concatenated in their
    * shuffled `position` order and cut into `ctxLen`-token chunks.
    *
    * Unlike [[packSequences]] (whose shard count IS the parallelism),
    * the natural partition here — the epoch — is LOW-cardinality, so
    * a per-epoch cumulative-sum window would sort whole epochs in
    * single tasks. Positions are already dense ranks, so the running
    * token total decomposes over position blocks instead (the §9
    * monotone-bucket discipline, prefix-sum edition): block
    * `(position−1) div blockSize` cumsums locally, block token totals
    * prefix-sum in a tiny per-epoch window (manifest/blockSize rows),
    * and global cum = block offset + local cum. Long addition is
    * associative, so the decomposition is bit-identical to the naive
    * per-epoch window the oracle states — blockSize changes the plan,
    * never the answer (spec-pinned). At 100 TB: blocks of ~1M rows
    * give thousands-way parallelism within every epoch; the offset
    * table stays broadcast-small.
    *
    * `order` is [[epochOrder]]'s output (doc_id, epoch, position);
    * `docs` supplies the text to count. Returns one row per
    * (epoch, chunk): doc count, token sum, position range.
    */
  def packEpochs(order: DataFrame, docs: DataFrame, ctxLen: Int,
      blockSize: Long = 1L << 20): DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    require(blockSize > 0, "blockSize must be positive")
    val reserved = Seq("_blk", "_off", "_bt", "_o_epoch", "_o_blk",
      "toks", "cum", "chunk")
    val taken = order.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"inputs may not use the reserved working names $taken")
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val rows = order.select(col("doc_id"), col("epoch"), col("position"))
      .join(toks, Seq("doc_id"))
      .withColumn("_blk", idiv(col("position") - 1, lit(blockSize)))
    val offs = rows.groupBy(col("epoch"), col("_blk"))
      .agg(sum(col("toks")).as("_bt"))
      .withColumn("_off", coalesce(
        sum(col("_bt")).over(Window.partitionBy(col("epoch"))
          .orderBy(col("_blk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("epoch").as("_o_epoch"), col("_blk").as("_o_blk"),
        col("_off"))
    val w = Window.partitionBy(col("epoch"), col("_blk"))
      .orderBy(col("position"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .join(broadcast(offs), col("epoch") === col("_o_epoch")
        && col("_blk") === col("_o_blk"))
      .withColumn("cum", sum(col("toks")).over(w) + col("_off"))
      .withColumn("chunk",
        idiv(col("cum") - col("toks"), lit(ctxLen.toLong)))
      .groupBy(col("epoch"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("chunk_tokens"),
        min(col("position")).as("first_pos"),
        max(col("position")).as("last_pos"))
  }

  /** Bottom-k uniform sample — the MERGEABLE corpus sample: keep the
    * k rows with the smallest hash60(seed|id). Because the k smallest
    * of a union are among the union of each side's k smallest, the
    * sketch merges across partitions, batches, and streams without
    * resampling — the property reservoir sampling lacks in a
    * distributed setting — and the same seed always selects the same
    * docs (the eval-slice / debug-slice everybody needs to be stable
    * across reruns). Executes as TakeOrdered (per-partition partial
    * top-k, k rows to the driver), never a global sort.
    */
  def bottomKSample(rows: DataFrame, idCol: String, k: Int,
      seed: String): DataFrame = {
    require(k >= 1, "k must be positive")
    require(!rows.columns.contains("_h"),
      "inputs may not use the reserved working name _h")
    val h = HashUtils.hash60(
      concat(lit(seed), lit("|"), col(idCol).cast("string")))
    rows.withColumn("_h", h)
      .orderBy(col("_h"), col(idCol))
      .limit(k)
      .drop("_h")
  }

  /** Merge a new batch into a standing bottom-k sample: the k
    * smallest of (state ∪ batch) — by mergeability, computing each
    * side's bottom-k first loses nothing, so maintenance cost is
    * O(batch + k), never a corpus rescan. Gated against the
    * from-scratch sample over the union (the incremental-agg
    * discipline).
    */
  def mergeBottomK(state: DataFrame, batch: DataFrame, idCol: String,
      k: Int, seed: String): DataFrame =
    bottomKSample(state.unionByName(batch), idCol, k, seed)

  /** Per-user training sequences from an event log — the
    * sequential-recommendation (SASRec-style) input builder: for each
    * user, the LAST `maxLen` events in time order, emitted as the
    * event-type sequence string plus coverage stats (total events,
    * kept events, value sum over the kept window). Determinism: the
    * recency cut and the sequence order both tie-break on event_id,
    * and the per-user reassembly sorts (ts, event_id) structs inside
    * the aggregate — never a global sort; the only shuffle keys on
    * user_id and the window skew is bounded by the busiest user's
    * event count (cap it upstream if your log has bots).
    */
  def userHistories(events: DataFrame, maxLen: Int): DataFrame = {
    require(maxLen >= 1, "maxLen must be positive")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n_total", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      .filter(col("_rn") <= maxLen)
      .groupBy(col("user_id"))
      .agg(max(col("_n_total")).as("n_total"),
        count(lit(1)).as("n_kept"),
        // ONE sorted struct list feeds both outputs: the sequence
        // string, and the value sum folded in (ts, event_id) order —
        // a plain sum() of up to maxLen doubles associates in
        // partition-dependent order (the bm25TopK ulp lesson)
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type"), col("value")))).as("_seq"))
      .select(col("user_id"), col("n_total"), col("n_kept"),
        array_join(transform(col("_seq"),
          x => x.getField("event_type")), " ").as("hist"),
        round(aggregate(transform(col("_seq"),
          x => x.getField("value")), lit(0.0d), (acc, v) => acc + v), 6)
          .as("window_value"))
  }

  /** Deterministic negative sampling for implicit-feedback training
    * (the BPR/matrix-factorization pair generator): for each user, k
    * items they did NOT interact with, drawn by hashing (seed, user,
    * slot) into the 1..itemMax id space. Oversampled slots absorb the
    * two loss channels — within-user candidate collisions (deduped,
    * first slot wins) and candidates that hit a true interaction
    * (anti-joined away) — so k negatives survive almost surely at
    * oversample ≥ 2–3 for sparse users; a pathological user who
    * interacted with most of the item space yields fewer, honestly.
    * Fully deterministic given the seed: reruns, retries, and the
    * oracle all draw the identical negatives — the property
    * rand()-based samplers can't give a distributed retry.
    *
    * Scale: slots are |users|·k·oversample rows of three longs, the
    * dedup/rank windows partition by user, and the anti-join keys on
    * (user, item) against the interaction table — all linear; the
    * item-space size rides the plan as a broadcast 1-row aggregate.
    */
  def negativeSamples(interactions: DataFrame, users: DataFrame,
      itemMax: DataFrame, k: Int, oversample: Int,
      seed: String): DataFrame = {
    require(k >= 1, "k must be positive")
    require(oversample >= 2, "oversample slots must be >= 2x k")
    val dedup = Window.partitionBy(col("user_id"), col("item_id"))
      .orderBy(col("slot"))
    val rankW = Window.partitionBy(col("user_id")).orderBy(col("slot"))
    users.select(col("user_id"))
      .withColumn("slot",
        explode(sequence(lit(1), lit(k * oversample))))
      .crossJoin(broadcast(itemMax.select(col("item_max"))))
      .withColumn("item_id",
        pmod(HashUtils.hash60(concat(lit(seed), lit("|"),
          col("user_id").cast("string"), lit("|"),
          col("slot").cast("string"))), col("item_max")) + 1)
      .withColumn("_dup", row_number().over(dedup))
      .filter(col("_dup") === 1)
      .join(interactions.select(col("user_id"), col("item_id")),
        Seq("user_id", "item_id"), "left_anti")
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= k)
      .select(col("user_id"), col("rk"), col("item_id"))
  }

  /** Per-epoch shuffled training order over a repetition manifest —
    * the composition that turns [[temperatureMixture]]'s (doc, epoch)
    * rows into the stream a training loader actually reads: within
    * each epoch, rows are ordered by hash60(seed|epoch|doc), so every
    * epoch is an INDEPENDENT deterministic permutation (the epoch
    * value is inside the hash — repeating docs don't repeat their
    * order across passes, the shuffle-each-epoch training norm).
    * Same monotone-bucket machinery as [[shufflePositions]], grouped
    * by epoch: no task ever sorts an epoch, yet the positions are
    * bit-identical to the naive per-epoch window the oracle states.
    *
    * Returns the manifest's columns plus the 1-based within-epoch
    * `position`.
    */
  def epochOrder(manifest: DataFrame, seed: String): DataFrame = {
    val reserved = Seq("_sid", "position")
    val taken = manifest.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"inputs may not use the reserved working names $taken")
    require(manifest.columns.contains("epoch")
      && manifest.columns.contains("doc_id"),
      "epochOrder expects a (doc_id, epoch, ...) repetition manifest")
    val keyed = manifest.withColumn("_sid",
      concat(lit(seed), lit("|"), col("epoch").cast("string"),
        lit("|"), col("doc_id").cast("string")))
    // epochs are few (a repetition manifest's max epoch count) — the
    // uncapped per-epoch target table is broadcast-small
    val targets = manifest.select(col("epoch")).distinct()
      .withColumn("n_target", lit(Long.MaxValue))
    cappedHashRank(keyed, "_sid", Seq("epoch"), targets)
      .withColumnRenamed("rk", "position")
      .drop("_sid")
  }

  /** Deterministic seeded global shuffle order — the training-order
    * export step between mixture sampling and sequence packing: every
    * epoch pipeline needs the corpus in a REPRODUCIBLE pseudo-random
    * order (so a resumed/re-run job trains on the identical stream),
    * and a naive `ORDER BY hash` is ONE task sorting the corpus.
    * Position = global rank of hash60(seed|id) with the id-string
    * tiebreak, assigned through [[cappedHashRank]]'s monotone-bucket
    * decomposition (SURVEY §9): bit-identical to the naive global
    * window, thousands-way parallel, no single-partition sort of
    * data-sized input. A different seed yields an independent
    * permutation; the same seed is stable across runs and engines
    * (md5-derived hash, DuckDB-restatable).
    *
    * Returns `rows`' columns plus the 1-based `position`.
    */
  def shufflePositions(rows: DataFrame, idCol: String,
      seed: String): DataFrame = {
    val reserved = Seq("_sid", "_g", "position")
    val taken = rows.columns.filter(reserved.contains)
    require(taken.isEmpty,
      s"inputs may not use the reserved working names $taken")
    val keyed = rows
      .withColumn("_sid",
        concat(lit(seed), lit("|"), col(idCol).cast("string")))
      .withColumn("_g", lit(0))
    // an uncapped rank: the single pseudo-group's target is MaxValue,
    // so cappedHashRank's map-side bucket prune keeps everything and
    // the machinery degenerates to exactly the global rank
    val target = rows.sparkSession.range(1)
      .select(lit(0).as("_g"), lit(Long.MaxValue).as("n_target"))
    cappedHashRank(keyed, "_sid", Seq("_g"), target)
      .withColumnRenamed("rk", "position")
      .drop("_sid", "_g")
  }

  /** The stores one takedown must reach — every path is optional, so a
    * deployment names exactly the stores it runs. `corpusPath` is a
    * [[graft.streaming.CorpusIngest]] committed table,
    * `nearDupStorePath` a [[graft.streaming.StreamingNearDup]]
    * signature store; the five index paths are the standing index
    * families (BM25 postings, IVF/PQ cells — one tombstone table
    * serves both read paths — flat sign-bit, perceptual-hash, and
    * substr shingle postings).
    */
  final case class TakedownTargets(
      corpusPath: Option[String] = None,
      nearDupStorePath: Option[String] = None,
      bm25Path: Option[String] = None,
      ivfPath: Option[String] = None,
      binaryPath: Option[String] = None,
      phashPath: Option[String] = None,
      substrPath: Option[String] = None) {
    /** The named stores with their paths, in cascade order: the
      * corpus table first, the derived indexes next, the near-dup
      * suppression store last (see [[takedown]] for why).
      */
    private[graft] def stores: Seq[(ServedStore, String)] = Seq(
      corpusPath.map(ServedStore.CorpusTable -> _),
      bm25Path.map(ServedStore.Bm25 -> _),
      ivfPath.map(ServedStore.Ivf -> _),
      binaryPath.map(ServedStore.Binary -> _),
      phashPath.map(ServedStore.Phash -> _),
      substrPath.map(ServedStore.Substr -> _),
      nearDupStorePath.map(ServedStore.NearDupStore -> _)).flatten

    /** How many stores this takedown will touch. */
    def count: Int = stores.size
  }

  /** Unified corpus takedown (r14 verdict item 1): ONE doc_id set
    * cascades through the committed corpus table, every derived
    * standing index, and the streaming near-dup suppression store —
    * the GDPR/DMCA operation that previously required knowing and
    * calling up to seven per-store APIs in the right order, with
    * nothing proving the doc was gone everywhere (the ns68 gate now
    * does).
    *
    * Every per-store step is an idempotent id-sized tombstone append
    * (unknown/repeated ids are no-ops, masks distinct at read), so the
    * WHOLE cascade is idempotent: a crash between steps is repaired by
    * replaying the entire call — steps already applied absorb, missing
    * ones apply; there is no order in which a replay can corrupt state
    * (TakedownSpec drives a mid-cascade crash to exactly this
    * convergence). Zero data files are touched anywhere — at 100 TB a
    * takedown costs seven small appends, and physical reclaim stays
    * each index's compaction job.
    *
    * Step order is still deliberate, for the partial-state window a
    * crash leaves OPEN until the replay: the corpus table masks first
    * (the user-facing read stops returning the doc before anything
    * else), the derived indexes follow (serves stop surfacing it), and
    * the near-dup suppression store goes LAST — deleting its signature
    * is what ADMITS future near-copies, which must not happen while an
    * earlier store might still be serving the original (a crashed
    * cascade that had already re-admitted copies would otherwise
    * duplicate content it still serves).
    *
    * The id set is null-checked and cut ONCE ([[Materialize.withCut]])
    * so seven appends reuse one small computation instead of
    * re-executing an arbitrary caller plan seven times.
    * Returns the number of stores tombstoned.
    */
  def takedown(spark: org.apache.spark.sql.SparkSession,
      docIds: DataFrame, targets: TakedownTargets,
      ledgerPath: Option[String] = None): Int = {
    require(targets.count > 0,
      "takedown: no target stores named — nothing would be deleted")
    Materialize.withCut(docIds.select(
        when(col("doc_id").isNotNull, col("doc_id"))
          .otherwise(raise_error(
            lit("takedown: null doc_id in delete batch")))
          .as("doc_id"))
      .distinct()) { ids =>
      targets.stores.foreach { case (store, p) =>
        store.delete(spark, ids.select(col("doc_id").as(store.idCol)), p)
      }
      ledgerPath.foreach(appendTakedownLedger(spark, ids, targets, _))
    }
    targets.count
  }

  /** The compliance ledger row (r15 verdict item 5): a takedown leaves
    * per-store tombstones, but an audit ("prove doc X was deleted
    * everywhere on request R") previously had to reconstruct the
    * cascade from seven stores. One idempotent row per cascade —
    * appended LAST, after every per-store tombstone landed, so its
    * presence attests the WHOLE cascade's durability (the per-store
    * markers it records are the stores' family names; each name means
    * "that store's tombstone append returned"). `cascade_sig` is
    * md5(sorted ids | sorted store names) — a pure function of the
    * cascade's content, so the crash-repair replay (re-running the
    * same call) absorbs instead of duplicating, and the oracle can
    * restate the sig cross-engine. A deliberate SECOND takedown of the
    * same ids against the same stores is likewise one ledger row: the
    * per-store deletes it re-runs are no-ops by the tombstone
    * contract, so one row per distinct (ids, stores) cascade is
    * exactly the audit-relevant cardinality. Single-writer compliance
    * table (the engine's directory-table discipline); timestamps are
    * the deployment's job via its ingest wrapper if policy demands
    * them — a wall-clock column here would break the idempotent
    * replay-absorption this ledger exists to provide.
    */
  private def appendTakedownLedger(
      spark: org.apache.spark.sql.SparkSession, ids: DataFrame,
      targets: TakedownTargets, ledgerPath: String): Unit = {
    val named = targets.stores
      .map { case (store, p) => store.family -> p }.sortBy(_._1)
    val stores = named.map(_._1)
    val row = ids
      .agg(sort_array(collect_list(col("doc_id").cast("string")))
        .as("doc_ids"), count(lit(1)).as("n_ids"))
      .select(
        md5(concat(concat_ws(",", col("doc_ids")),
          lit("|" + stores.mkString(",")))).as("cascade_sig"),
        col("doc_ids"), col("n_ids"),
        typedLit(stores).as("stores"),
        // the PATHS hit, alongside the oracle-restatable name-keyed
        // sig: two cascades over the same ids against different
        // stores of the SAME family (two binary indexes) share a sig
        // but are distinct audit events — the dedupe key is
        // (sig, target_paths), so neither absorbs the other (r16
        // session review)
        typedLit(named.map { case (n, p) => s"$n=$p" })
          .as("target_paths"))
    graft.sources.Evidence.appendDeduped(spark, row, ledgerPath,
      Seq("cascade_sig", "target_paths"))
  }
}
