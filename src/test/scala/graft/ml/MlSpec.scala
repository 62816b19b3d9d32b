package graft.ml

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantics of the approximate operators, checked against their exact
  * counterparts on the sf0.001 testdata (identical 500-doc corpus).
  */
class MlSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, dir)
  private def embs = Tables.embeddings(spark, dir)

  test("minhash LSH finds every high-jaccard pair the exact scan finds " +
      "(j≈0.9+ pairs band-collide with near certainty at k=16,b=4)") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, 3, 16, 4, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(exact.subsetOf(lsh) && lsh.subsetOf(exact),
      s"minhash pairs $lsh != exact pairs $exact")
  }

  test("simhash banding is exact for hamming <= bands-1 (pigeonhole): " +
      "banded pairs == brute-force pairs") {
    val sh = Dedup.simhash(docs)
    val a = sh.select(col("doc_id").as("i"), col("simhash").as("si"))
    val b = sh.select(col("doc_id").as("j"), col("simhash").as("sj"))
    val brute = a.crossJoin(b).filter(col("i") < col("j"))
      .withColumn("hamming", bit_count(expr("si ^ sj")))
      .filter(col("hamming") <= 6)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashPairs(docs, maxHamming = 6, bands = 12)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("IVF top-k achieves reasonable recall@5 vs brute force") {
    val brute = Similarity.bruteTopK(embs, 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, 16, 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // IVF with 16 cells probing 1 cell on near-uniform random vectors is
    // genuinely lossy; the point is the plan shape. Require non-trivial
    // overlap and full per-vector coverage.
    assert(recall > 0.05, s"recall=$recall")
    assert(ivf.nonEmpty)
  }

  test("LSH top-k achieves non-trivial recall@5 vs brute force and " +
      "never returns a wrong similarity value") {
    val brute = Similarity.bruteTopK(embs, 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRows = Similarity.lshTopK(embs, nBands = 4, bitsPerBand = 6,
      k = 5, dim = 64).collect()
    val lsh = lshRows.map(r =>
      (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.05, s"recall=$recall")
    // candidates are re-scored exactly: spot-check one pair's cosine
    val exact = Similarity.bruteTopK(embs, embs.count().toInt - 1)
      .select("i", "j", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lshRows.forall(r =>
      exact((r.getAs[Long]("i"), r.getAs[Long]("j")))
        == r.getAs[Double]("cos")))
  }

  test("k-means refinement does not degrade the IVF assignment " +
      "objective (Lloyd is monotone from its own init)") {
    val seed = Similarity.seedCentroids(embs, 16)
    val fitted = Similarity.fitCentroids(embs, 16, 3)
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignCells(embs, cents)
        .agg(avg(col("ccos"))).head().getDouble(0)
    val (o0, o1) = (objective(seed), objective(fitted))
    assert(o1 >= o0 - 1e-6, s"fitted objective $o1 < seed objective $o0")
    // fitted IVF still produces a full, bounded result
    val rows = Similarity.ivfTopKWithCentroids(embs, fitted, 5)
    assert(rows.groupBy("i").count()
      .agg(max("count")).head().getLong(0) <= 5)
    assert(rows.select(countDistinct(col("i"))).head().getLong(0) ===
      embs.count())
  }

  test("fit-on-sample centroids (ns8b's exact configuration: hash-" +
      "sampled quarter, 16 cells, 3 rounds) still beat the seed " +
      "assignment objective on the FULL corpus") {
    // mirrors ns8b_sim_ivf_kmeans, which has no oracle (rows-only
    // gate): without this, a regression in the sampled-fit path would
    // pass every driver check unnoticed
    val sampled = embs.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
    assert(sampled.count() >= 16, "sample must cover the cell count")
    val fitted = Similarity.fitCentroids(sampled, 16, 3)
    val seed = Similarity.seedCentroids(embs, 16)
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignCells(embs, cents)
        .agg(avg(col("ccos"))).head().getDouble(0)
    val (o0, o1) = (objective(seed), objective(fitted))
    // Lloyd on a sample optimizes the sample's objective, so full-
    // corpus improvement is empirical, not a theorem — but the corpus,
    // hash, and seed are all deterministic, so this gate is stable
    assert(o1 > o0, s"sampled-fit objective $o1 <= seed objective $o0")
    val rows = Similarity.ivfTopKWithCentroids(embs, fitted, 5)
    assert(rows.select(countDistinct(col("i"))).head().getLong(0) ===
      embs.count(), "sampled-fit IVF must still cover every query vector")
  }

  test("LSH near-dup pairs are a subset of brute pairs with identical " +
      "cosines and non-trivial recall") {
    val brute = Similarity.nearDupPairs(embs, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.nearDupPairsLsh(embs, 0.4, nBands = 8,
      bitsPerBand = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(brute.keySet), "LSH must never invent a pair")
    assert(lsh.forall { case (k, c) => brute(k) == c },
      "re-scored cosines must be exact")
    assert(brute.nonEmpty &&
      lsh.size.toDouble / brute.size > 0.3,
      s"recall ${lsh.size}/${brute.size} too low")
  }

  test("withRecall annotates every ANN row with the set-computed " +
      "per-query recall and keeps zero-candidate query vectors") {
    val brute = Similarity.bruteTopK(embs, 5)
    val ivf = Similarity.ivfTopK(embs, 16, 5)
    val annotated = Similarity.withRecall(ivf, brute).collect()
    // full join: every brute query vector is represented even when the
    // ANN result dropped it (those rows carry recall=0, null neighbors)
    assert(annotated.map(_.getAs[Long]("i")).distinct.length ===
      embs.count())
    assert(annotated.length >= ivf.count())
    assert(annotated.forall { r =>
      val rec = r.getAs[Double]("recall"); rec >= 0.0 && rec <= 1.0
    })
    // cross-check one query vector against a hand-computed recall
    val i0 = annotated.map(_.getAs[Long]("i")).min
    val bruteSet = brute.filter(col("i") === i0)
      .select("j").collect().map(_.getLong(0)).toSet
    val ivfSet = ivf.filter(col("i") === i0)
      .select("j").collect().map(_.getLong(0)).toSet
    val expected = BigDecimal((bruteSet intersect ivfSet).size.toDouble
      / bruteSet.size).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val got = annotated.filter(_.getAs[Long]("i") == i0)
      .map(_.getAs[Double]("recall")).distinct.toSeq
    assert(got === Seq(expected.toDouble))
  }

  test("Aggregator-based top-k equals the window-based top-k exactly") {
    val win = Similarity.bruteTopK(embs, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val agg = Similarity.bruteTopKAgg(embs, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(agg === win)
  }

  test("SQ8 top-k: deep refine recovers the exact result; shallow " +
      "refine keeps high recall on the fixtures") {
    val brute = Similarity.bruteTopK(embs, 5)
      .select("i", "rk", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // refine = corpus size → every pair survives to the exact
    // re-score → identical to brute force (quantization only affects
    // candidate ORDER, and nothing is cut)
    val deep = Similarity.sq8TopK(embs, 5, refine = embs.count().toInt)
      .select("i", "rk", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(deep === brute)
    val shallow = Similarity.sq8TopK(embs, 5, refine = 20)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIj = brute.map { case (i, _, j) => (i, j) }
    val recall = (bruteIj intersect shallow).size.toDouble / bruteIj.size
    assert(recall > 0.8, s"SQ8 refine=4k recall $recall too low")
  }

  test("PackSq8 packs to the expected signed bytes and graft_dot8 " +
      "matches graft_dot on the unpacked integer values") {
    import graft.functions.VectorFunctions.{dot, dot8, sq8Pack}
    graft.functions.GraftExtensions.register(spark)
    // amax=2.0 in both: ±2.0 → ±127 exactly; -1.0 → -63.5 →
    // floor(x + 0.5) → -63 (half-up toward +∞); 0.5 → 31.75 → 32;
    // 1.0 → 63.5 → 64
    val df = spark.sql(
      "SELECT array(2.0D, -1.0D, 0.5D, 0.0D) AS a, " +
        "array(-2.0D, 1.0D, 1.0D, 2.0D) AS b")
    val packed = df.select(sq8Pack(col("a")).as("pa"),
      sq8Pack(col("b")).as("pb"))
    val Array(row) = packed.collect()
    assert(row.getAs[Array[Byte]]("pa").toSeq ===
      Seq[Byte](127, -63, 32, 0))
    assert(row.getAs[Array[Byte]]("pb").toSeq ===
      Seq[Byte](-127, 64, 64, 127))
    // byte dot == double dot over the same integer values (exact: both
    // are integer arithmetic below 2^53)
    val d8 = packed.select(dot8(col("pa"), col("pb")).as("d")).collect()
      .head.getLong(0)
    val dd = packed.select(dot(
      expr("transform(array(127, -63, 32, 0), x -> CAST(x AS DOUBLE))"),
      expr("transform(array(-127, 64, 64, 127), x -> CAST(x AS DOUBLE))"))
      .as("d")).collect().head.getDouble(0)
    assert(d8.toDouble === dd)
    // dimension mismatch fails loudly, same contract as graft_dot
    // (constant arguments may fold on the driver, so the error can
    // surface raw rather than wrapped in a SparkException)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot8(X'0102', X'01')").collect()
    }
    assert((Option(err.getMessage) ++
      Option(err.getCause).flatMap(c => Option(c.getMessage)))
      .exists(_.contains("dimension mismatch")))
  }

  test("PackCodes packs code words to unsigned bytes and graft_adc " +
      "computes the positional lookup sum; both fail loudly on abuse") {
    import graft.functions.VectorFunctions.{adc, packCodes}
    graft.functions.GraftExtensions.register(spark)
    // 2 subspaces, k=4: codes (3, 200) → bytes 0x03, 0xC8 (unsigned)
    val df = spark.sql(
      "SELECT array(3L, 200L) AS codes, " +
        // lut laid out sub*k + code over k=4... sub 0 slots 0..3,
        // sub 1 slots 4..7 — here k=256 to exercise the unsigned read:
        // lut[3] = 1.5, lut[256 + 200] = 2.25
        "transform(sequence(0, 511), " +
        "  i -> CASE WHEN i = 3 THEN 1.5D WHEN i = 456 THEN 2.25D " +
        "       ELSE 0.0D END) AS lut")
    val packed = df.select(packCodes(col("codes")).as("c"), col("lut"))
    val row = packed.collect().head
    assert(row.getAs[Array[Byte]]("c").toSeq ===
      Seq[Byte](3, -56)) // 200 as signed byte is -56; ADC reads & 0xFF
    val score = packed.select(adc(col("lut"), col("c"), lit(256)).as("s"))
      .collect().head.getDouble(0)
    assert(score === 3.75) // 1.5 + 2.25 — the unsigned read worked
    // out-of-range code refuses to pack
    val packErr = intercept[Exception] {
      spark.sql("SELECT graft_pack_codes(array(256L))").collect()
    }
    assert((Option(packErr.getMessage) ++ Option(packErr.getCause)
      .flatMap(c => Option(c.getMessage)))
      .exists(_.contains("out of byte range")))
    // lut/codes size mismatch fails loudly (graft_dot contract)
    val adcErr = intercept[Exception] {
      spark.sql("SELECT graft_adc(array(1.0D, 2.0D), X'0101', 4)")
        .collect()
    }
    assert((Option(adcErr.getMessage) ++ Option(adcErr.getCause)
      .flatMap(c => Option(c.getMessage)))
      .exists(_.contains("lut size")))
  }

  test("PQ: ADC score equals the exact dot against the reconstructed " +
      "vector (lut layout is dense and positional)") {
    import graft.functions.VectorFunctions.adc
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val nSub = 8; val k = 16
    val cb = Similarity.fitPqCodebook(embs, nSub, k, iters = 1)
    // every (sub, code) slot survives Lloyd — positional ADC layout
    assert(cb.count() === nSub * k)
    val enc = Similarity.pqEncode(embs, cb, nSub)
    // reconstruct each encoded vector by concatenating its codewords,
    // then compare dot(q, recon(x)) against adc(lut_q, codes_x) for a
    // deterministic slice of query×index pairs. Codes unpack driver-
    // side (binary is opaque to transform(); 500 tiny rows)
    val codeArr = enc.select(col("vec_id"), col("codes")).collect()
      .map(r => (r.getLong(0),
        r.getAs[Array[Byte]](1).map(b => (b & 0xFF)).toSeq))
      .toSeq.toDF("vec_id", "carr")
    val recon = codeArr
      .select(col("vec_id"), posexplode(col("carr")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")
      .join(cb.select(col("sub"), col("code"), col("ce")), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("ce")))),
        x => x.getField("ce"))).as("recon"))
    import graft.functions.VectorFunctions.{dot, packCodes}
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
    val luts = Similarity.pqLut(embs.filter(col("vec_id") < 10),
      cb, nSub, k)
    val pairs = q.join(luts.select(col("vec_id").as("qid"), col("lut")),
      Seq("qid"))
      .crossJoin(recon.join(codeArr, Seq("vec_id"))
        .select(col("vec_id").as("xid"), col("recon"),
          packCodes(transform(col("carr"), x => x.cast("long")))
            .as("codes")))
      .withColumn("adc_score", adc(col("lut"), col("codes"), lit(k)))
      .withColumn("exact", dot(col("qe"), col("recon")))
    val bad = pairs
      .filter(abs(col("adc_score") - col("exact")) > 1e-8).count()
    assert(bad === 0, "ADC must equal the reconstructed dot product")
  }

  test("IVF-PQ: probing every cell with full refine recovers brute " +
      "exactly; ns7d's configuration keeps most of the cell-bounded " +
      "recall ceiling and shrinks index bytes 8x vs SQ8") {
    import graft.functions.VectorFunctions.sq8Pack
    graft.functions.GraftExtensions.register(spark)
    val nSub = 8; val k = 16
    val cb = Similarity.fitPqCodebook(embs, nSub, k, iters = 1)
    val cents = Similarity.seedCentroids(embs, 16)
    val n = embs.count().toInt
    val brute = Similarity.bruteTopK(embs, 5)
      .select("i", "rk", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // probes=nCells + refine=corpus → no candidate is ever cut → the
    // exact re-score reproduces brute bit-for-bit (quantization only
    // affects candidate ORDER)
    val deep = Similarity.ivfPqTopK(embs, cents, cb, nSub, k,
      k = 5, refine = n, probes = 16)
      .select("i", "rk", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(deep === brute)
    // ns7d's shallow configuration: recall within 0.08 of the pure
    // cell ceiling (same cells/probes, no quantization) — the PQ loss
    // is the residual, not the headline
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteIj = brute.map { case (i, _, j) => (i, j) }
      (bruteIj intersect got).size.toDouble / bruteIj.size
    }
    val ceiling = recallOf(
      Similarity.ivfTopKMultiProbe(embs, cents, 5, probes = 3))
    val pq = recallOf(Similarity.ivfPqTopK(embs, cents, cb, nSub, k,
      k = 5, refine = 50, probes = 3))
    assert(pq >= ceiling - 0.08,
      s"PQ recall $pq too far below the cell ceiling $ceiling")
    // the bytes claim, structural: 8 code bytes vs 64 SQ8 bytes per
    // vector (both plus one norm double)
    val pqBytes = Similarity.pqEncode(embs, cb, nSub)
      .agg(avg(octet_length(col("codes")))).collect().head.getDouble(0)
    val sqBytes = embs
      .select(sq8Pack(col("embedding").cast("array<double>")).as("q"))
      .agg(avg(octet_length(col("q")))).collect().head.getDouble(0)
    assert(pqBytes * 8 <= sqBytes,
      s"PQ $pqBytes bytes vs SQ8 $sqBytes bytes")
  }

  test("served IVF-PQ index: write + partition-pruned query equals " +
      "the in-memory ivfPqTopK bit-for-bit (layout is derived from " +
      "the stored codebook, not caller-declared)") {
    val nSub = 8; val k = 16
    val cents = Similarity.seedCentroids(embs, 16)
    val cb = Similarity.fitPqCodebook(embs, nSub, k, iters = 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq").toString
    try {
      Similarity.writeIvfPqIndex(embs, cents, cb, nSub, dir)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("i", "rk", "j", "cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val mem = rows(Similarity.ivfPqTopK(embs, cents, cb, nSub, k,
        k = 5, refine = 50, probes = 3))
      val served = rows(Similarity.queryIvfPqIndex(spark, dir, embs,
        embs, k = 5, refine = 50, probes = 3))
      assert(served === mem)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("PQ probe reads a fraction of the index cell directories " +
      "(partition pruning through the quantized serving path, measured)") {
    import graft.meta.PlanIntrospection.fileScanMetricsFor
    import spark.implicits._
    val nSub = 8; val k = 16
    val cents = Similarity.seedCentroids(embs, 16)
    val cb = Similarity.fitPqCodebook(embs, nSub, k, iters = 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_prune").toString + "/idx"
    try {
      Similarity.writeIvfPqIndex(embs, cents, cb, nSub, dir)
      val (totalFiles, totalRows) =
        fileScanMetricsFor(spark.read.parquet(dir), dir)
      val one = embs.limit(1).collect()(0)
      val qdf = Seq((one.getLong(0), one.getSeq[Float](1).toArray))
        .toDF("vec_id", "embedding")
      val probe = Similarity.queryIvfPqIndex(spark, dir, qdf, embs,
        k = 5, refine = 50, probes = 3)
      val (probeFiles, probeRows) = fileScanMetricsFor(probe, dir)
      assert(probeFiles < totalFiles,
        s"probe listed $probeFiles of $totalFiles index files — no pruning")
      assert(probeFiles <= 3 * (totalFiles / 16 + 1),
        s"probe listed $probeFiles files for 3 of 16 cells")
      assert(probeRows < totalRows)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir).getParentFile).deleteRecursively()
    }
  }

  test("appendIvfPqIndex: a built-then-appended PQ index serves " +
      "identically to a from-scratch build of the union corpus") {
    val nSub = 8; val k = 16
    val cents = Similarity.seedCentroids(embs, 16)
    val cb = Similarity.fitPqCodebook(embs, nSub, k, iters = 1)
    val dirA = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_inc").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_full").toString
    try {
      // build on 3/4, append the rest vs build on everything — the
      // same centroids+codebook, so the indexes must be row-identical
      Similarity.writeIvfPqIndex(embs.filter(col("vec_id") % 4 =!= 0),
        cents, cb, nSub, dirA)
      Similarity.appendIvfPqIndex(spark,
        embs.filter(col("vec_id") % 4 === 0), dirA)
      Similarity.writeIvfPqIndex(embs, cents, cb, nSub, dirB)
      def rows(dir: String) = Similarity.queryIvfPqIndex(spark, dir,
        embs, embs, k = 5, refine = 50, probes = 3)
        .select("i", "rk", "j", "cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(rows(dirA) === rows(dirB))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirB)).deleteRecursively()
    }
  }

  test("randomProject: deterministic, linear in the input, and " +
      "projected cosines track exact cosines (the JL property)") {
    val proj = Similarity.randomProject(embs, outDim = 16, dim = 64)
    val again = Similarity.randomProject(embs, outDim = 16, dim = 64)
    assert(proj.collect().map(_.toString).sorted.toSeq ===
      again.collect().map(_.toString).sorted.toSeq,
      "fixed seed must reproduce the identical projection")
    // JL: cosine in the 16-dim image correlates strongly with the
    // exact 64-dim cosine over sampled pairs
    val p = proj.select(col("vec_id").as("i"), col("proj").as("pe"))
    val exact = Similarity.nearDupPairs(embs, -1.0) // all pairs i<j
      .filter(col("i") % 7 === 0 && col("j") % 5 === 0)
    val projCos = Similarity.cosine(col("pa"), col("pb"))
    val both = exact
      .join(p.select(col("i"), col("pe").as("pa")), Seq("i"))
      .join(p.select(col("i").as("j"), col("pe").as("pb")), Seq("j"))
      .select(col("cos"), projCos.as("pcos"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(both.length > 100, "need a meaningful pair sample")
    val (xs, ys) = (both.map(_._1), both.map(_._2))
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum,
        b.map(y => (y - mb) * (y - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    val r = corr(xs.toSeq, ys.toSeq)
    // the fixtures are near-uniform random vectors, the HARDEST case
    // for a 4× reduction: pairwise cosines cluster near 0 and the JL
    // per-coordinate error is ~1/√16, so the measured correlation sits
    // near 0.5 (0.48 observed). The null hypothesis is ~0 — a 0.35
    // floor proves the projection carries real geometry without
    // flaking on sampling wobble; clustered real-world embeddings
    // would score far higher.
    assert(r > 0.35, s"projected-vs-exact cosine correlation $r too low")
  }

  test("semDedup: drops exactly the vectors with an earlier same-cell " +
      "neighbor above threshold; cell prune keeps most of the " +
      "unclustered dedup's drops") {
    val t = 0.4
    val cents = Similarity.seedCentroids(embs, 16)
    val result = Similarity.semDedup(embs, cents, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3))).toSeq
    // brute restatement: same-cell pairs above threshold
    val cells = Similarity.assignCells(embs, cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = Similarity.nearDupPairs(embs, t)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val intraCell = pairs.filter { case (i, j) => cells(i) == cells(j) }
    val expectExemplar = intraCell.groupBy(_._2)
      .map { case (j, ps) => j -> ps.map(_._1).min }
    assert(result.nonEmpty)
    result.foreach { case (v, cell, keep, ex) =>
      assert(cells(v) == cell)
      expectExemplar.get(v) match {
        case Some(e) => assert(!keep && ex == e,
          s"vec $v should drop with exemplar $e, got keep=$keep ex=$ex")
        case None => assert(keep && ex == v,
          s"vec $v should be kept, got keep=$keep ex=$ex")
      }
    }
    // the fixtures plant embedding near-dups (ns6 is non-empty) and
    // most planted pairs are true duplicates of each other — the cell
    // prune must catch a non-trivial share of what the unclustered
    // greedy would drop (the boundary-loss metric, measured)
    val globalDrops = pairs.groupBy(_._2).keySet
    val cellDrops = result.filter(!_._3).map(_._1).toSet
    assert(cellDrops.subsetOf(globalDrops),
      "cell-pruned drops must be a subset of unclustered drops")
    if (globalDrops.nonEmpty) {
      val recall = cellDrops.size.toDouble / globalDrops.size
      assert(recall > 0.3,
        s"cell prune caught $recall of unclustered drops " +
          s"(${cellDrops.size}/${globalDrops.size})")
    }
  }

  test("semDedup occupancy cap: hot cells form no pairs (members all " +
      "kept, exemplar=self), under-cap cells match the exact result, " +
      "and candidate volume is bounded by cap per row") {
    val t = 0.4
    val cents = Similarity.seedCentroids(embs, 16)
    val occ = Similarity.assignCells(embs, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // a cap strictly inside the occupancy range so both branches run
    val sizes = occ.values.toSeq.sorted
    val cap = sizes(sizes.size / 2)
    assert(sizes.head <= cap && sizes.last > cap,
      s"cap $cap does not split cell sizes $sizes")
    val exact = Similarity.semDedup(embs, cents, t).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2),
        r.getLong(3)))).toMap
    val capped = Similarity.semDedup(embs, cents, t,
        cellOccupancyCap = cap).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2),
        r.getLong(3)))).toMap
    // every vector still appears exactly once, same cell assignment
    assert(capped.keySet === exact.keySet)
    var hotDropsForgone = 0
    capped.foreach { case (v, (cell, keep, ex)) =>
      assert(cell === exact(v)._1)
      if (occ(cell) > cap) {
        // hot cell: no pairs formed — keep=true, exemplar=self, even
        // where the exact pass dropped the vector (the stated recall
        // contract)
        assert(keep && ex == v,
          s"vec $v in hot cell $cell (occ ${occ(cell)}) not kept")
        if (!exact(v)._2) hotDropsForgone += 1
      } else {
        // under-cap cell: identical to the exact result — the cap may
        // not perturb cold cells
        assert((cell, keep, ex) === exact(v),
          s"vec $v in cold cell $cell drifted under the cap")
      }
    }
    // the contract is exercised: some duplicate actually lived in a
    // hot cell (otherwise this test proves nothing about the loss)
    assert(hotDropsForgone > 0,
      "fixture has no duplicates in hot cells; cap untested")
  }

  test("ivfTopKAuto routes by measured intra-cell candidate volume: " +
      "the spread assignment serves exactly, a collapsed one engages " +
      "the candidate cap — every query still answered, neighbors " +
      "drawn only from the cap prefix, matching the naive recompute") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("i"), col("rk"), col("j"))
        .as[(Long, Int, Long)].collect().toSet
    // spread: 16 cells, ~15.5k candidates vs a 256·500 budget → exact
    val auto = rows(Similarity.ivfTopKAuto(embs, nCells = 16, k = 5,
      cellCandidateCap = 50L, budgetCandidatesPerQuery = 256L))
    assert(auto === rows(Similarity.ivfTopK(embs, nCells = 16, k = 5)),
      "spread assignment must route to the exact intra-cell serve")
    // collapsed: 2 cells (~124k candidates) with budget 64 → capped.
    // Naive recompute: per cell, the 50 smallest-id members are the
    // candidate prefix; each query ranks prefix members of its cell
    // by (6dp cosine desc, id) and keeps 5.
    val cents2 = Similarity.seedCentroids(embs, 2)
    val assignments = Similarity.assignCells(embs, cents2)
      .select(col("vec_id"), col("cell"))
      .as[(Long, Long)].collect().toMap
    val vecs = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
      .filter { case (_, v) =>
        val n = v.map(x => x * x).sum
        n > 0 && java.lang.Double.isFinite(n) }
    val prefix = assignments.toSeq.groupBy(_._2).flatMap {
      case (_, ms) => ms.map(_._1).sorted.take(50) }.toSet
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.size) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = vecs.keys.flatMap { q =>
      val cell = assignments(q)
      assignments.toSeq
        .collect { case (j, c) if c == cell && j != q &&
          prefix(j) && vecs.contains(j) => (j, cos6(vecs(q), vecs(j))) }
        .sortBy { case (j, c) => (-c, j) }.take(5).zipWithIndex
        .map { case ((j, _), r) => (q, r + 1, j) }
    }.toSet
    val autoHot = rows(Similarity.ivfTopKAuto(embs, nCells = 2, k = 5,
      cellCandidateCap = 50L, budgetCandidatesPerQuery = 64L))
    assert(autoHot === expected,
      "collapsed assignment must serve the capped candidate prefix")
    assert(autoHot.map(_._1) === vecs.keySet,
      "every query must still be answered under the cap")
    assert(autoHot !== rows(Similarity.ivfTopK(embs, nCells = 2,
      k = 5)), "hot fixture did not exercise the cap's loss")
  }

  test("EVERY capped hot route has NO window partitioned on the bare " +
      "group over raw rows: the id-prefix cap ranks per (group, " +
      "bucket) with histogram offsets, so the dominant group — " +
      "exactly the one that trips a capped branch — never sorts " +
      "through one task. Registry-wide case list (r13 verdict item " +
      "8): a new cappedIdPrefix consumer must add its hot route here") {
    def assertCapShape(name: String,
        df: org.apache.spark.sql.DataFrame, groupCol: String,
        inPlan: Boolean): Unit = {
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      val bare = windows.filter(w =>
        w.partitionSpec.flatMap(_.references.toSeq)
          .map(_.name).distinct == Seq(groupCol))
      if (!inPlan) {
        // this route materializes its capped set through a
        // localCheckpoint built by Corpus.cappedIdPrefix (whose own
        // shape the in-plan case below pins), so the serve plan must
        // show NO bare-group window at all — one appearing here would
        // be a hand-rolled raw-rows rank sneaking back in
        assert(bare.isEmpty,
          s"$name: unexpected bare-$groupCol window in the serve " +
            "plan:\n" + bare.headOption.fold("")(_.toString.take(800)))
        return
      }
      // the decomposition's offset window IS partitioned by the group
      // alone, but over the ≤4096·|groups| bucket histogram (an
      // Aggregate child); the regressed form ranks RAW rows — no
      // aggregate below it
      assert(bare.nonEmpty,
        s"$name: expected the histogram offset window")
      bare.foreach { w =>
        val aggBelow = w.child.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical
            .Aggregate => a
        }
        assert(aggBelow.nonEmpty,
          s"$name: a bare-$groupCol window may only rank the bucket " +
            "histogram:\n" + w.toString.take(800))
      }
    }
    assertCapShape("ivfTopKAuto",
      Similarity.ivfTopKAuto(embs, nCells = 2, k = 5,
        cellCandidateCap = 50L, budgetCandidatesPerQuery = 64L),
      "cell", inPlan = true)
    val tmp = java.nio.file.Files.createTempDirectory("graft_capshape")
    try {
      import spark.implicits._
      val path = tmp.resolve("idx").toString
      val cb = Similarity.fitPqCodebook(
        embs.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
        nSub = 8, codesPerSub = 16, iters = 1)
      Similarity.writeIvfPqIndex(embs,
        Similarity.seedCentroids(embs, 2), cb, nSub = 8, path)
      assertCapShape("pqTopKServedAuto",
        Similarity.pqTopKServedAuto(spark, path, embs, embs, k = 5,
          refine = 20, probes = 1, cellCandidateCap = 50L,
          budgetCandidatesPerQuery = 1L),
        "cell", inPlan = false)
      // the raw-IVF serve router (r15 verdict item 1) — same
      // localCheckpointed capped set, same no-bare-window contract
      val pathRaw = tmp.resolve("idx_raw").toString
      Similarity.writeIvfIndex(embs,
        Similarity.seedCentroids(embs, 2), pathRaw)
      assertCapShape("queryIvfIndexAuto",
        Similarity.queryIvfIndexAuto(spark, pathRaw, embs,
          Similarity.seedCentroids(embs, 2), k = 5, probes = 1,
          cellCandidateCap = 50L, budgetCandidatesPerQuery = 1L),
        "cell", inPlan = false)
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("pqTopKServedAuto routes by measured probe-hit × cell volume: " +
      "under budget it equals the dedicated PQ serve bit-for-bit; " +
      "past it the per-cell id-prefix cap engages — every query " +
      "still answered, capped neighbors only from the prefix") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_auto")
    try {
      val path = tmp.resolve("idx").toString
      val cb = Similarity.fitPqCodebook(
        embs.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0),
        nSub = 8, codesPerSub = 16, iters = 1)
      Similarity.writeIvfPqIndex(embs,
        Similarity.seedCentroids(embs, 16), cb, nSub = 8, path)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("i"), col("rk"), col("j"), col("cos"))
          .as[(Long, Int, Long, Double)].collect().toSet
      val exact = rows(Similarity.queryIvfPqIndex(spark, path, embs,
        embs, k = 5, refine = 20, probes = 2))
      // cool: the measured volume sits far under a huge budget
      assert(rows(Similarity.pqTopKServedAuto(spark, path, embs, embs,
        k = 5, refine = 20, probes = 2, cellCandidateCap = 10L,
        budgetCandidatesPerQuery = 1000000L)) === exact,
        "under-budget serve must equal the dedicated PQ serve")
      // hot with a NON-BINDING cap: the capped branch runs and still
      // equals the exact serve (prefix covers every cell)
      assert(rows(Similarity.pqTopKServedAuto(spark, path, embs, embs,
        k = 5, refine = 20, probes = 2, cellCandidateCap = 100000L,
        budgetCandidatesPerQuery = 1L)) === exact,
        "non-binding cap must change nothing on the hot route")
      // hot with a BINDING cap: results differ, every query is still
      // answered, and every neighbor comes from its cell's
      // 10-smallest-vec_id candidate prefix
      val capped = rows(Similarity.pqTopKServedAuto(spark, path, embs,
        embs, k = 5, refine = 20, probes = 2, cellCandidateCap = 10L,
        budgetCandidatesPerQuery = 1L))
      assert(capped !== exact,
        "cap 10 did not bind on this fixture; contract untested")
      assert(capped.map(_._1) === exact.map(_._1),
        "every query must still be answered under the cap")
      val prefix = spark.read.parquet(path)
        .select(col("vec_id"), col("cell").cast("long"))
        .as[(Long, Long)].collect().toSeq.groupBy(_._2)
        .flatMap { case (_, ms) => ms.map(_._1).sorted.take(10) }.toSet
      assert(capped.forall(r => prefix(r._3)),
        "a capped neighbor fell outside the per-cell id prefix")
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("queryIvfIndexAuto routes by measured probe-hit × cell volume " +
      "(r15 verdict item 1): under budget it equals the dedicated " +
      "raw-IVF serve bit-for-bit; past it the per-cell id-prefix cap " +
      "engages — every query still answered, capped neighbors only " +
      "from the prefix; un-folded stream siblings refused") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_auto")
    try {
      val path = tmp.resolve("idx").toString
      val cents = Similarity.seedCentroids(embs, 16)
      Similarity.writeIvfIndex(embs, cents, path)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("i"), col("rk"), col("j"), col("cos"))
          .as[(Long, Int, Long, Double)].collect().toSet
      val exact = rows(Similarity.queryIvfIndex(spark, path, embs,
        cents, k = 5, probes = 2))
      // cool: the measured volume sits far under a huge budget
      assert(rows(Similarity.queryIvfIndexAuto(spark, path, embs,
        cents, k = 5, probes = 2, cellCandidateCap = 10L,
        budgetCandidatesPerQuery = 1000000L)) === exact,
        "under-budget serve must equal the dedicated raw-IVF serve")
      // hot with a NON-BINDING cap: the capped branch runs and still
      // equals the exact serve (prefix covers every cell)
      assert(rows(Similarity.queryIvfIndexAuto(spark, path, embs,
        cents, k = 5, probes = 2, cellCandidateCap = 100000L,
        budgetCandidatesPerQuery = 1L)) === exact,
        "non-binding cap must change nothing on the hot route")
      // hot with a BINDING cap: results differ, every query is still
      // answered, and every neighbor comes from its cell's
      // 10-smallest-vec_id candidate prefix
      val capped = rows(Similarity.queryIvfIndexAuto(spark, path, embs,
        cents, k = 5, probes = 2, cellCandidateCap = 10L,
        budgetCandidatesPerQuery = 1L))
      assert(capped !== exact,
        "cap 10 did not bind on this fixture; contract untested")
      assert(capped.map(_._1) === exact.map(_._1),
        "every query must still be answered under the cap")
      val prefix = spark.read.parquet(path)
        .select(col("vec_id"), col("cell").cast("long"))
        .as[(Long, Long)].collect().toSeq.groupBy(_._2)
        .flatMap { case (_, ms) => ms.map(_._1).sorted.take(10) }.toSet
      assert(capped.forall(r => prefix(r._3)),
        "a capped neighbor fell outside the per-cell id prefix")
      // the binaryTopKServedAuto refusal, inherited: an un-folded
      // streamed sibling would be invisible to the routed serve
      graft.streaming.VectorIngest.ingestBatch(
        embs.limit(3), 0L, path)
      val e = intercept[IllegalArgumentException] {
        Similarity.queryIvfIndexAuto(spark, path, embs, cents, k = 5,
          probes = 2, cellCandidateCap = 10L,
          budgetCandidatesPerQuery = 1L)
      }
      assert(e.getMessage.contains("un-folded"),
        s"expected the un-folded-sibling refusal, got: ${e.getMessage}")
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("binaryTopKServedAuto routes by measured candidate volume: " +
      "under budget it equals the dedicated scan serve bit-for-bit; " +
      "past it the pigeonhole-banded branch returns exactly the " +
      "in-radius top-k (naive recompute), the occupancy cap drops " +
      "candidates only, and queries keep their other bands") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_auto")
    try {
      val path = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(embs, path, dim = 64)
      val q = embs.select(col("vec_id"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // 500-vector fixture: 500·499 ≈ 250k candidates < 10M → scan
      val scanRoute = rows(Similarity.binaryTopKServedAuto(spark, path,
        embs, q, k = 5, refine = 100, maxHamming = 8,
        budgetCandidates = 10000000L, bandOccupancyCap = 100L))
      assert(scanRoute === rows(Similarity.binaryTopKServed(spark, path,
        embs, q, k = 5, refine = 100)),
        "under-budget query set must route to the unchanged scan serve")
      // naive recompute of the banded branch: radius-bounded
      // candidates from surviving buckets, (ham, j) refine rank,
      // exact 6dp-cosine top-k
      val vecs = embs.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().toMap
        .filter { case (_, v) =>
          val n = v.map(x => x * x).sum
          n > 0 && java.lang.Double.isFinite(n) }
      val sign = vecs.map { case (id, v) =>
        id -> v.map(x => if (x > 0) 1 else 0).toIndexedSeq }
      def ham(a: Long, b: Long): Int =
        sign(a).zip(sign(b)).count { case (x, y) => x != y }
      def cos6(a: Seq[Double], b: Seq[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.size) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val radius = 24; val nb = radius + 1
      def bandKey(id: Long, b: Int): (Int, Seq[Int]) =
        (b, sign(id).slice(64 * b / nb, 64 * (b + 1) / nb))
      def expected(cap: Long): Set[(Long, Int, Long)] = {
        val occ = sign.keys.toSeq
          .flatMap(id => (0 until nb).map(b => bandKey(id, b)))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        sign.keys.flatMap { i =>
          val cand = sign.keys.filter { j =>
            j != i && ham(i, j) <= radius &&
              (0 until nb).exists { b =>
                val key = bandKey(j, b)
                bandKey(i, b) == key && (cap <= 0L || occ(key) <= cap)
              }
          }.toSeq.sortBy(j => (ham(i, j), j)).take(100)
          cand.map(j => (j, cos6(vecs(i), vecs(j))))
            .sortBy { case (j, c) => (-c, j) }.take(5).zipWithIndex
            .map { case ((j, _), r) => (i, r + 1, j) }
        }.toSet
      }
      val uncapped = rows(Similarity.binaryTopKServedAuto(spark, path,
        embs, q, k = 5, refine = 100, maxHamming = radius,
        budgetCandidates = 100L, bandOccupancyCap = 0L))
      val expUncapped = expected(0L)
      assert(uncapped === expUncapped,
        "over-budget route must serve the in-radius banded candidates")
      assert(uncapped.nonEmpty,
        "fixture has no in-radius pairs; the banded branch is vacuous")
      // a partially-binding cap: hot buckets' members become
      // unreachable AS CANDIDATES, everything else is unchanged
      val capped = rows(Similarity.binaryTopKServedAuto(spark, path,
        embs, q, k = 5, refine = 100, maxHamming = radius,
        budgetCandidates = 100L, bandOccupancyCap = 30L))
      val expCapped = expected(30L)
      assert(capped === expCapped,
        "cap must drop hot-bucket candidates and nothing else")
      assert(expCapped !== expUncapped,
        "cap=30 did not bind on this fixture; contract untested")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("nearDupPairsAuto routes by corpus size: under budget it " +
      "equals the exact all-pairs scan, past it the LSH banded cut, " +
      "and the routed LSH output is the documented subset") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // budget 512: the 500-vector fixture stays exact
    val auto = pairs(Similarity.nearDupPairsAuto(embs, 0.4,
      nBands = 8, bitsPerBand = 4, dim = 64,
      budgetPairsPerVec = 512L))
    assert(auto === pairs(Similarity.nearDupPairs(embs, 0.4)),
      "under-budget corpus must route to the exact scan")
    // budget 10: 500 > 21 routes to LSH — equal to the dedicated
    // operator, and a subset of exact (the stated recall trade)
    val autoLsh = pairs(Similarity.nearDupPairsAuto(embs, 0.4,
      nBands = 8, bitsPerBand = 4, dim = 64,
      budgetPairsPerVec = 10L))
    assert(autoLsh === pairs(Similarity.nearDupPairsLsh(embs, 0.4,
      nBands = 8, bitsPerBand = 4, dim = 64)),
      "over-budget corpus must route to the LSH cut")
    assert(autoLsh.subsetOf(auto),
      "LSH route must be a subset of the exact pairs")
    // the occupancy cap (round 13): a binding cap can only REMOVE
    // pairs (hot buckets form none), a non-binding one changes
    // nothing — and the routed form threads it through
    val capped = pairs(Similarity.nearDupPairsAuto(embs, 0.4,
      nBands = 8, bitsPerBand = 4, dim = 64,
      budgetPairsPerVec = 10L, bandOccupancyCap = 3L))
    assert(capped === pairs(Similarity.nearDupPairsLsh(embs, 0.4,
      nBands = 8, bitsPerBand = 4, dim = 64, bandOccupancyCap = 3L)),
      "routed cap must equal the dedicated capped operator")
    assert(capped.subsetOf(autoLsh),
      "capping buckets may only drop pairs")
    assert(capped !== autoLsh,
      "cap=3 did not bind on this fixture; contract untested")
    val slack = pairs(Similarity.nearDupPairsAuto(embs, 0.4,
      nBands = 8, bitsPerBand = 4, dim = 64,
      budgetPairsPerVec = 10L, bandOccupancyCap = 1000000L))
    assert(slack === autoLsh,
      "a non-binding cap must change nothing")
  }

  test("occupancy caps DEFAULT ON: a clustered corpus past the " +
      "router budget gets the capped banded branch from every Auto " +
      "entry without the caller naming the knob (r13 verdict item 3)") {
    import spark.implicits._
    val dim = 64
    // 230 near-identical all-positive vectors collapse every sign/LSH
    // bucket they share past the 100/200 defaults; 40 mixed-sign
    // vectors in 5 identical-within classes of 8 stay far under
    val rows: Seq[(Long, Seq[Double])] =
      (0L until 230L).map(i => i -> Seq.tabulate(dim)(c =>
        0.5 + 0.01 * (((i * 31 + c) % 17).toDouble / 17.0))) ++
      (230L until 270L).map(i => i -> Seq.tabulate(dim)(c =>
        if ((i * 7 + c) % 5 < 2) -0.5 - 0.01 * ((c % 7).toDouble / 7.0)
        else 0.5 + 0.01 * ((c % 11).toDouble / 11.0)))
    val df = rows.toDF("vec_id", "embedding")
    def setOf(d: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      d.collect().map(_.toSeq.toIndexedSeq: Seq[Any]).toSet
    // near-dup mining: budget 10 routes N=270 to the LSH branch
    def ndp(cap: Long) = setOf(Similarity.nearDupPairsLsh(df, 0.4,
      nBands = 8, bitsPerBand = 4, dim = dim, bandOccupancyCap = cap))
    val ndpDefault = setOf(Similarity.nearDupPairsAuto(df, 0.4,
      nBands = 8, bitsPerBand = 4, dim = dim, budgetPairsPerVec = 10L))
    assert(ndpDefault === ndp(200L),
      "nearDupPairsAuto default must be the registry-proven 200")
    assert(ndpDefault !== ndp(0L),
      "nearDupPairsAuto's default cap did not bind on the cluster")
    // triplet mining: budget 10 routes to the banded cut
    def hn(cap: Long) = setOf(Similarity.hardNegativesLsh(df,
      queryMod = 3, posThreshold = 0.9, negLo = 0.05, nNegs = 2,
      nBands = 8, bitsPerBand = 4, dim = dim, bandOccupancyCap = cap))
    val hnDefault = setOf(Similarity.hardNegativesAuto(df, 3, 0.9,
      0.05, 2, 8, 4, dim, budgetPairsTotal = 10L))
    assert(hnDefault === hn(200L),
      "hardNegativesAuto default must be the registry-proven 200")
    assert(hnDefault !== hn(0L),
      "hardNegativesAuto's default cap did not bind on the cluster")
    // binary serve: identical sign patterns put all 230 clustered
    // vectors in ONE >cap bucket per band; budget 10 routes banded
    val tmp = java.nio.file.Files.createTempDirectory("graft_capdef")
    try {
      val path = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(df, path, dim = dim)
      def serve(cap: Long) = setOf(Similarity.binaryTopKServedAuto(
        spark, path, df, df.select("vec_id"), k = 3, refine = 10,
        maxHamming = 8, budgetCandidates = 10L,
        bandOccupancyCap = cap))
      val serveDefault = setOf(Similarity.binaryTopKServedAuto(
        spark, path, df, df.select("vec_id"), k = 3, refine = 10,
        maxHamming = 8, budgetCandidates = 10L))
      assert(serveDefault === serve(100L),
        "binaryTopKServedAuto default must be the registry-proven 100")
      assert(serveDefault !== serve(0L),
        "binaryTopKServedAuto's default cap did not bind on the cluster")
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("semDedupAuto routes by measured intra-cell candidate volume: " +
      "the spread 16-cell assignment routes exact, a 2-cell collapse " +
      "routes capped, and each branch equals its dedicated operator") {
    val t = 0.4
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    // cool: 16 seed cells spread the fixture (sizes 20–42), so
    // Σ c·(c−1) sits far under the 2·64·N budget → exact branch,
    // identical to the uncapped operator even with a cap that WOULD
    // drop cells if it engaged (31 splits the occupancy range)
    val cents = Similarity.seedCentroids(embs, 16)
    val auto = asMap(Similarity.semDedupAuto(embs, cents, t,
      cellOccupancyCap = 31L, budgetPairsPerVec = 64L))
    assert(auto === asMap(Similarity.semDedup(embs, cents, t)),
      "spread assignment must route to the exact tier")
    // hot: 2 seed cells make one cell hold ~half the corpus —
    // Σ c·(c−1) ≥ 2·(N/2)·(N/2−1) blows the same budget → capped
    // branch, with the cap set under the biggest cell so the
    // drop-hot-cell contract is exercised
    val cents2 = Similarity.seedCentroids(embs, 2)
    val occ = Similarity.assignCells(embs, cents2)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val cap = occ.max - 1
    val autoHot = asMap(Similarity.semDedupAuto(embs, cents2, t,
      cellOccupancyCap = cap, budgetPairsPerVec = 64L))
    assert(autoHot === asMap(Similarity.semDedup(embs, cents2, t,
      cellOccupancyCap = cap)),
      "collapsed assignment must route to the capped tier")
    // and the routing genuinely changed the result class: the hot
    // cell's duplicates come out keep=true under the cap
    assert(autoHot !== asMap(Similarity.semDedup(embs, cents2, t)),
      "hot fixture did not exercise the cap's loss")
  }

  test("packed SQ8 shuffles several times fewer bytes than the " +
      "array<double> quantized form (the bandwidth claim, measured)") {
    import graft.functions.VectorFunctions.sq8Pack
    import graft.meta.PlanIntrospection.flatten
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    graft.functions.GraftExtensions.register(spark)
    // shuffle dataSize is the honest metric: parquet dictionary-encodes
    // the 255-distinct-value doubles down to byte width ON DISK, but
    // the exchange ships UnsafeRows at full column width — which is
    // exactly where the N² candidate scan pays at 100 TB
    def shuffledDataSize(df: org.apache.spark.sql.DataFrame): Long = {
      val shuffled = df.repartition(8, col("vec_id"))
      shuffled.collect()
      // only the hash repartition added here carries the q column; the
      // fixture reader's round-robin shuffle ships the RAW embeddings
      // identically in both variants and would dilute the ratio
      val sizes = flatten(shuffled.queryExecution.executedPlan).collect {
        case s: ShuffleExchangeLike if s.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
          s.metrics("dataSize").value
      }
      assert(sizes.nonEmpty, "expected a shuffle in the measured plan")
      sizes.sum
    }
    val e = col("embedding").cast("array<double>")
    // the r4 representation this round replaced: integer-valued
    // doubles, quantized with the same per-vector amax rescale
    val asDouble = embs
      .select(col("vec_id"), e.as("e"))
      .withColumn("amax",
        aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .select(col("vec_id"), transform(col("e"),
        x => round(x * lit(127.0) / col("amax")).cast("int").cast("double"))
        .as("q"))
    val asBytes = embs.select(col("vec_id"), sq8Pack(e).as("q"))
    val (dbl, bin) = (shuffledDataSize(asDouble), shuffledDataSize(asBytes))
    // raw ratio is ~8× on the 64-dim fixtures; require a conservative
    // 4× so row headers/padding can't flake the assertion
    assert(bin * 4 < dbl, s"packed=$bin vs array<double>=$dbl")
  }

  test("mixture sampling hits the per-source floor(w*T) targets " +
      "deterministically and excludes unlisted sources") {
    val weights = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25)
    val out = Corpus.mixtureSample(docs, weights).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length).toMap
    // sf0.001: 25 docs per source → T = min(25/0.5, 25/0.25) = 50;
    // targets = 25, 12, 12
    assert(bySource === Map("src0" -> 25, "src1" -> 12, "src2" -> 12))
    // deterministic: same call, same selection
    val again = Corpus.mixtureSample(docs, weights).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again === out.map(r => (r.getLong(0), r.getString(1))).toSet)
    intercept[IllegalArgumentException] {
      Corpus.mixtureSample(docs, Map("src0" -> -1.0))
    }
    // a weighted source with ZERO matching docs makes the requested
    // composition unsatisfiable — the result must be empty, not a
    // silently reweighted corpus of the present sources
    val absent = Corpus.mixtureSample(docs,
      Map("src0" -> 0.5, "no_such_source" -> 0.5))
    assert(absent.isEmpty,
      "absent weighted source must drive T to 0 (empty result)")
  }

  test("temperature mixture: alpha=1 is proportional, alpha<1 lifts " +
      "the rare source's share, up-sampling emits full epochs plus a " +
      "hash-ranked partial pass, all deterministic") {
    import spark.implicits._
    // skewed synthetic corpus: 100 common, 20 mid, 5 rare
    val rows = (1L to 100L).map(i => (i, "common")) ++
      (101L to 120L).map(i => (i, "mid")) ++
      (121L to 125L).map(i => (i, "rare"))
    val docs = rows.toDF("doc_id", "source")
    def shares(alpha: Double, budget: Long): Map[String, Long] =
      Corpus.temperatureMixture(docs, alpha, budget).collect()
        .groupBy(_.getAs[String]("source"))
        .view.mapValues(_.length.toLong).toMap
    // alpha=1: weights proportional to size — shares track the corpus
    val prop = shares(1.0, 250L)
    assert(prop("common") === 200L && prop("mid") === 40L &&
      prop("rare") === 10L)
    // rare is up-sampled: 10 examples from 5 docs = 2 full epochs
    val rare1 = Corpus.temperatureMixture(docs, 1.0, 250L)
      .filter(col("source") === "rare").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(rare1.map(_._2).distinct.sorted.toSeq === Seq(0L, 1L))
    assert(rare1.count(_._2 == 0L) === 5 && rare1.count(_._2 == 1L) === 5)
    // alpha=0.5 flattens: the rare share rises above its natural 4%,
    // the common share falls below its natural 80%
    val flat = shares(0.5, 250L)
    val total = flat.values.sum.toDouble
    assert(flat("rare") / total > 0.04 * 1.5,
      s"rare share not lifted: $flat")
    assert(flat("common") / total < 0.80, s"common share not damped: $flat")
    // the partial epoch is the smallest-hash-rank subset: a re-run
    // selects the identical (doc_id, epoch) multiset
    val a = Corpus.temperatureMixture(docs, 0.5, 137L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    val b = Corpus.temperatureMixture(docs, 0.5, 137L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(a === b && a.nonEmpty)
    // a (doc, epoch) pair never repeats — the manifest is a set
    assert(a.distinct === a)
    intercept[IllegalArgumentException] {
      Corpus.temperatureMixture(docs, 0.0, 10L)
    }
  }

  test("embeddingDrift: identical clouds score ~zero PSI everywhere, " +
      "a planted mean shift scores large terms") {
    import spark.implicits._
    // deterministic pseudo-cloud (no Random): 200 vecs, 8 dims
    def cloud(idBase: Long, shift: Double) =
      (0L until 200L).map { i =>
        (idBase + i,
          (0 until 8).map(d => ((i * 31 + d * 7) % 13 - 6) / 6.0 + shift))
      }.toDF("vec_id", "embedding")
    def totalAbsPsi(cur: org.apache.spark.sql.DataFrame): Double =
      Similarity.embeddingDrift(cloud(0L, 0.0), cur, outDim = 3, dim = 8)
        .agg(sum(abs(col("psi_term")))).head().getDouble(0)
    // same value multiset (different ids) → identical bin counts →
    // every PSI term exactly zero after rounding
    assert(totalAbsPsi(cloud(10000L, 0.0)) === 0.0)
    // +3 mean shift moves every projection by 3·Σplane — mass piles
    // into the extreme reference bins, PSI explodes
    assert(totalAbsPsi(cloud(10000L, 3.0)) > 1.0)
  }

  test("cluster resolution: chain merges transitively, singletons kept") {
    import spark.implicits._
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val out = Dedup.clusters(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L))
  }

  test("clusters reliable=true (fault-tolerant checkpoint) equals the " +
      "local path; missing checkpoint dir rejected up front") {
    import spark.implicits._
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("doc_id")
    // a 7-node chain forces several pointer-doubling rounds, so the
    // reliable path exercises multiple generation handoffs
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L)).toDF("i", "j")
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    // the missing-dir require is constructor-level and can only be
    // exercised if no earlier suite set a dir on the shared session
    // (suite-order dependent — GenCheckpointer's own require is the
    // real guard); the parity assertion below always runs
    if (saved.isEmpty)
      intercept[IllegalArgumentException] {
        Dedup.clusters(d, pairs, reliable = true)
      }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_clusters").toString
    try {
      sc.setCheckpointDir(dir)
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rel = m(Dedup.clusters(d, pairs, reliable = true))
      assert(rel === m(Dedup.clusters(d, pairs)))
      assert(rel(7L) === 1L && rel(8L) === 8L)
    } finally {
      // restore whatever dir the session had: later suites must not
      // inherit a checkpoint dir pointing at this test's deleted tmp
      saved.foreach(sc.setCheckpointDir)
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("cosine matches a hand computation") {
    import spark.implicits._
    val df = Seq((Array(1.0, 0.0), Array(0.6, 0.8))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect()(0).getDouble(0)
    assert(math.abs(c - 0.6) < 1e-12)
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d).collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("canonical_doc_id") === 1L)
  }

  test("langId picks the language with most stopword hits; 'und' when none") {
    import spark.implicits._
    val d = Seq("the cat is on the mat", "el gato es que la", "zzz qqq")
      .toDF("text")
    val out = d.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(out.toSeq === Seq("en", "es", "und"))
  }

  test("fingerprint is word-order and duplication invariant") {
    import spark.implicits._
    val d = Seq(("b a c a", "a b c")).toDF("t1", "t2")
    val r = d.select(
      (TextAnalysis.fingerprint(col("t1")) ===
        TextAnalysis.fingerprint(col("t2"))).as("eq"))
      .collect()(0).getBoolean(0)
    assert(r)
  }

  test("rollingHash is order sensitive") {
    import spark.implicits._
    val d = Seq(("a b", "b a")).toDF("t1", "t2")
    val r = d.select(
      (TextAnalysis.rollingHash(col("t1")) =!=
        TextAnalysis.rollingHash(col("t2"))).as("ne"))
      .collect()(0).getBoolean(0)
    assert(r)
  }

  test("canonicalizeUrl: fragment/case/default-port/trailing-slash/" +
      "utm/param-order variants collapse to one form; non-default " +
      "ports, non-http schemes, and utm-only queries keep their " +
      "meaning") {
    import spark.implicits._
    def canon(u: String): String =
      Seq(u).toDF("u")
        .select(TextAnalysis.canonicalizeUrl(col("u")).as("c"))
        .head().getString(0)
    val want = "http://shop.example.com/item/7?a=2&b=1"
    assert(canon("HTTP://Shop.Example.COM:80/item/7/?b=1&a=2#frag")
      === want)
    assert(canon("http://shop.example.com/item/7?a=2&utm_source=x&b=1")
      === want)
    assert(canon("http://shop.example.com/item/7//?b=1&a=2") === want)
    // https drops ITS default port, not http's
    assert(canon("https://h.com:443/") === "https://h.com/")
    assert(canon("https://h.com:80/x") === "https://h.com:80/x")
    // a non-default port survives; so does a non-http scheme's port
    assert(canon("http://h.com:8080/x") === "http://h.com:8080/x")
    assert(canon("ftp://h.com:80/x") === "ftp://h.com:80/x")
    // empty path and utm-only query normalize to the bare root
    assert(canon("http://H.com?utm_medium=a") === "http://h.com/")
    // no scheme:// → VERBATIM pass-through, never a collapsed junk
    // value that would merge unrelated records in the dedup
    assert(canon("www.a.com/x?b=1") === "www.a.com/x?b=1")
    assert(canon("//cdn.example.com/z") === "//cdn.example.com/z")
    assert(canon("mailto:u@example.com") === "mailto:u@example.com")
  }

  test("multimodal decode plumbing: typed mapPartitions round-trip") {
    val media = Multimodal.mediaTable(docs.limit(10))
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length === 10)
    assert(feats.forall(f => f.sig.length == 8 && f.n_bytes > 0))
    // text bytes never magic-match an image — all rows take the stub
    assert(feats.forall(!_.decoded))
    assert(feats.map(_.media_type).toSet.subsetOf(
      Set("image", "audio", "video")))
  }

  test("real PNG bytes decode to true pixel dimensions, byte-exact sig") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7)
      img.setRGB(x, y, (x * 31 + y * 7) << 8)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val m = Seq((1L, "image", png, "s", png.length.toLong))
      .toDF("media_id", "media_type", "payload", "source", "length_hint")
    val f = Multimodal.decodeFeatures(m).collect()(0)
    assert(f.decoded, "PNG payload must take the real decode path")
    assert(f.width === 7)
    assert(f.height === 5)
    assert(f.n_bytes === png.length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(f.sig ===
      md.digest(png).map("%02x".format(_)).mkString.substring(0, 8))
  }

  test("corrupt image-magic payload falls back to the stub, no crash") {
    import spark.implicits._
    val junk = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5)
    val m = Seq((1L, "image", junk, "s", junk.length.toLong))
      .toDF("media_id", "media_type", "payload", "source", "length_hint")
    val f = Multimodal.decodeFeatures(m).collect()(0)
    assert(!f.decoded)
    assert(f.width === junk.length % 640)
    assert(f.height === junk.length % 480)
  }

  test("NaN/Infinity embeddings are excluded instead of ranking first " +
      "(Spark orders NaN above every double)") {
    import spark.implicits._
    val d = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f)),
      (3L, Array(Float.NaN, 1.0f)))
      .toDF("vec_id", "embedding")
    val topk = Similarity.bruteTopK(d, 1).collect()
    assert(topk.map(_.getLong(0)).toSet === Set(1L, 2L),
      "the NaN vector must not appear as a query")
    assert(topk.forall(r => r.getLong(2) != 3L),
      "the NaN vector must not appear as a neighbor")
    assert(topk.forall(r => !r.getDouble(3).isNaN))
  }

  test("fixtures contain no degenerate embedding (the withNorm exclusion " +
      "and its oracle-side nz mirror are both vacuous on this data)") {
    // zero, NaN and Inf norms are ALL excluded by withNorm and by the
    // oracle's `> 0 AND isfinite` nz CTE; this asserts the gate data
    // exercises neither branch, so engine/oracle agreement on the
    // fixtures plus this check covers the full contract
    val degenerate = embs.selectExpr("vec_id",
      "aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS ss")
      .filter(col("ss") === 0.0 || isnan(col("ss")) ||
        col("ss") === Double.PositiveInfinity)
      .count()
    assert(degenerate === 0L)
  }

  test("multi-probe IVF: probes=1 degenerates to plain IVF; probes=3 " +
      "strictly improves recall at equal nCells") {
    val brute = Similarity.bruteTopK(embs, 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.seedCentroids(embs, 16)
    val single = Similarity.ivfTopK(embs, 16, 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = Similarity.ivfTopKMultiProbe(embs, cents, k = 5, probes = 1)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 === single, "probes=1 must equal single-probe IVF")
    val p3 = Similarity.ivfTopKMultiProbe(embs, cents, k = 5, probes = 3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = (brute intersect p1).size.toDouble / brute.size
    val r3 = (brute intersect p3).size.toDouble / brute.size
    assert(r3 > r1, s"multi-probe recall $r3 not above single-probe $r1")
  }

  test("persisted IVF index: querying the written index equals the " +
      "in-memory multi-probe, and a probe reads a fraction of the " +
      "cell directories (partition pruning, measured)") {
    import graft.meta.PlanIntrospection.fileScanMetrics
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_index").toString + "/idx"
    val cents = Similarity.seedCentroids(embs, 16)
    Similarity.writeIvfIndex(embs, cents, path)
    // whole-corpus queries: identical to the in-memory operator
    val served = Similarity.queryIvfIndex(spark, path, embs, cents,
      k = 5, probes = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inMem = Similarity.ivfTopKMultiProbe(embs, cents, k = 5, probes = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served === inMem && served.nonEmpty)
    // single served query (built in memory so the ONLY file scan in
    // the plan is the index read): listed files must be the probed
    // cells' directories, not the corpus
    val (totalFiles, totalRows) =
      fileScanMetrics(spark.read.parquet(path))
    val oneQuery = embs.limit(1).collect()(0)
    val qdf = Seq((oneQuery.getLong(0), oneQuery.getSeq[Float](1).toArray))
      .toDF("vec_id", "embedding")
    // centroids as a LocalRelation so the probe plan's ONLY file scan
    // is the index read (cents derives from the embeddings parquet)
    val centsLocal = spark.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    val probe = Similarity.queryIvfIndex(spark, path, qdf, centsLocal,
      k = 5, probes = 3)
    val (probeFiles, probeRows) = fileScanMetrics(probe)
    assert(probeFiles < totalFiles,
      s"probe listed $probeFiles of $totalFiles index files — no pruning")
    assert(probeFiles <= 3 * (totalFiles / 16 + 1),
      s"probe listed $probeFiles files for 3 of 16 cells")
    assert(probeRows < totalRows)
  }

  test("deleteFromIvfIndex: the tombstoned index (raw and PQ) serves " +
      "bit-identically to a from-scratch build without the deleted " +
      "vectors, and rewrites no cell file") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_del")
    def cellFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    try {
      val alive = embs.filter(col("vec_id") % 7 =!= 0)
      // centroids = the FULL-corpus seed set on BOTH sides: deletion
      // never rewrites the assignment function, so the fair rebuild
      // keeps it too
      val cents = Similarity.seedCentroids(embs, 16)
      val del = tmp.resolve("del").toString
      val rebuilt = tmp.resolve("rebuilt").toString
      Similarity.writeIvfIndex(embs, cents, del)
      val before = cellFiles(del)
      Similarity.deleteFromIvfIndex(spark,
        embs.filter(col("vec_id") % 7 === 0).select("vec_id"), del)
      assert(cellFiles(del) === before, "delete rewrote a cell file")
      Similarity.writeIvfIndex(alive, cents, rebuilt)
      def serve(p: String) = Similarity.queryIvfIndex(spark, p, alive,
          cents, k = 5, probes = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val served = serve(del)
      assert(served === serve(rebuilt) && served.nonEmpty)
      assert(!served.exists(_._3 % 7 == 0), "a deleted vector surfaced")
      // same contract on the quantized layout: tombstones mask the
      // code rows, rebuild encodes with the SAME stored models
      val cb = Similarity.fitPqCodebook(embs, nSub = 8, codesPerSub = 16,
        iters = 1)
      val pqDel = tmp.resolve("pq_del").toString
      val pqRebuilt = tmp.resolve("pq_rebuilt").toString
      Similarity.writeIvfPqIndex(embs, cents, cb, nSub = 8, pqDel)
      Similarity.deleteFromIvfIndex(spark,
        embs.filter(col("vec_id") % 7 === 0).select("vec_id"), pqDel)
      Similarity.writeIvfPqIndex(alive, cents, cb, nSub = 8, pqRebuilt)
      def servePq(p: String) = Similarity.queryIvfPqIndex(spark, p,
          alive, alive, k = 5, refine = 20, probes = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val servedPq = servePq(pqDel)
      assert(servedPq === servePq(pqRebuilt) && servedPq.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("compactIvfIndex rewrites only the dirty cells, drops emptied " +
      "cell dirs and the tombstones, and serving is unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_cmp")
    def cellFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    try {
      val cents = Similarity.seedCentroids(embs, 16)
      val path = tmp.resolve("idx").toString
      Similarity.writeIvfIndex(embs, cents, path)
      // dead set: EVERY member of one chosen cell (so its dir must
      // vanish) plus every 7th vector (so several cells are dirty
      // but survive)
      val byCell = Similarity.assignCells(embs, cents)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val emptiedCell = byCell.groupBy(_._2).minBy(_._2.length)._1
      val dead = (byCell.filter(_._2 == emptiedCell).map(_._1) ++
        byCell.map(_._1).filter(_ % 7 == 0)).distinct
      val dirtyCells = byCell.filter(p => dead.contains(p._1))
        .map(_._2).distinct.toSet
      Similarity.deleteFromIvfIndex(spark, dead.toSeq.toDF("vec_id"),
        path)
      val alive = embs.filter(!col("vec_id").isin(dead.map(x => x: Any): _*))
      def serve() = Similarity.queryIvfIndex(spark, path, alive, cents,
          k = 5, probes = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val before = serve()
      val filesBefore = cellFiles(path)
      val rewritten = Similarity.compactIvfIndex(spark, path)
      assert(rewritten === dirtyCells.size.toLong,
        s"compaction touched $rewritten cells, ${dirtyCells.size} dirty")
      // tombstones gone, emptied dir gone, clean cells byte-identical
      assert(tombstonesEmpty(path, "_graft_deleted"))
      assert(!new java.io.File(path, s"cell=$emptiedCell").exists())
      val filesAfter = cellFiles(path)
      filesBefore.foreach { case (p, meta) =>
        val cell = p.replaceAll(".*cell=([0-9]+)/.*", "$1").toLong
        if (!dirtyCells.contains(cell))
          assert(filesAfter.get(p).contains(meta),
            s"compaction rewrote clean-cell file $p")
      }
      assert(serve() === before && before.nonEmpty,
        "compaction changed query results")
      // idempotent: a second compaction finds no tombstones
      assert(Similarity.compactIvfIndex(spark, path) === 0L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("compaction replays a committed stage: a dirty cell lost to a " +
      "mid-overwrite crash is restored from the stage, and the " +
      "tombstones survive until the replayed apply completes") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_replay")
    try {
      val cents = Similarity.seedCentroids(embs, 16)
      val path = tmp.resolve("idx").toString
      Similarity.writeIvfIndex(embs, cents, path)
      val deadDf = embs.filter(col("vec_id") % 7 === 0).select("vec_id")
      Similarity.deleteFromIvfIndex(spark, deadDf, path)
      // stage exactly what a compaction run stages (survivors + the
      // dirty-partition marker, here conservatively ALL cells), i.e.
      // the state right after the stage COMMITS and before the apply
      val idx = spark.read.parquet(path)
      idx.join(deadDf, Seq("vec_id"), "left_anti")
        .write.parquet(s"$path/_graft_compact_stage")
      val allCells = idx.select(col("cell").cast("long"))
        .distinct().as[Long].collect().sorted
      allCells.toSeq.toDF("part").coalesce(1)
        .write.parquet(s"$path/_graft_compact_stage/_parts")
      // the crash: the overwrite's delete-then-rename commit died
      // after deleting one cell dir — its SURVIVORS are gone from the
      // index and only the stage still has them
      val victim = allCells.head
      import scala.reflect.io.Directory
      assert(new Directory(
        new java.io.File(path, s"cell=$victim")).deleteRecursively())
      // next compaction entry replays the committed stage, restores
      // the lost cell, then runs the (now no-op) normal pass and
      // drops the tombstones
      Similarity.compactIvfIndex(spark, path)
      assert(!new java.io.File(path, "_graft_compact_stage").exists())
      assert(tombstonesEmpty(path, "_graft_deleted"))
      val alive = embs.filter(col("vec_id") % 7 =!= 0)
      val rebuilt = tmp.resolve("rebuilt").toString
      Similarity.writeIvfIndex(alive, cents, rebuilt)
      def serve(p: String) = Similarity.queryIvfIndex(spark, p, alive,
          cents, k = 5, probes = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(serve(path) === serve(rebuilt) && serve(path).nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("ivf compaction pins the tombstone FILE list at entry: a " +
      "tombstone appended mid-compaction is never discarded — it " +
      "keeps masking and the next compaction reclaims it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_late")
    try {
      val cents = Similarity.seedCentroids(embs, 16)
      val path = tmp.resolve("idx").toString
      Similarity.writeIvfIndex(embs, cents, path)
      val ids = embs.select("vec_id").as[Long].collect().sorted.toSeq
      val firstDead = ids.filter(_ % 7 == 0)
      val lateId = ids.find(_ % 7 != 0).get
      Similarity.deleteFromIvfIndex(spark,
        firstDead.toDF("vec_id"), path)
      // inject the race: append the late tombstone the moment the
      // compactor COMMITS its stage (a mid-run artifact that only
      // appears after the entry snapshot was pinned) — under the old
      // whole-directory cleanup an in-window append was discarded
      // and the deletion silently resurrected
      val stageMarker = new java.io.File(path,
        s"${Similarity.CompactStageDir}/_parts/_SUCCESS")
      @volatile var appended = false
      val late = new Thread(() => {
        val deadline = System.currentTimeMillis() + 60000L
        while (!stageMarker.exists()
            && System.currentTimeMillis() < deadline)
          Thread.sleep(2)
        Similarity.deleteFromIvfIndex(spark,
          Seq(lateId).toDF("vec_id"), path)
        appended = true
      })
      late.start()
      assert(Similarity.compactIvfIndex(spark, path) > 0L)
      late.join(120000L)
      assert(appended, "late tombstone append never ran")
      // wherever the append landed relative to the cleanup, the late
      // id must be masked NOW: full-probe, corpus-k serving over a
      // few queries surfaces every unmasked id as some neighbor
      val queries = embs.filter(col("vec_id").isin(
        ids.filterNot(i => firstDead.contains(i) || i == lateId)
          .take(3).map(x => x: Any): _*))
      def servedJs(): Set[Long] =
        Similarity.queryIvfIndex(spark, path, queries, cents,
            k = ids.size, probes = 16)
          .select(col("j")).distinct().as[Long].collect().toSet
      val js = servedJs()
      assert(!js.contains(lateId),
        "mid-compaction tombstone was discarded — deletion resurrected")
      assert(firstDead.forall(d => !js.contains(d)))
      assert(js.nonEmpty)
      // the surviving tombstone is ordinary compaction debt: the next
      // entry reclaims it physically and serving stays identical
      assert(Similarity.compactIvfIndex(spark, path) > 0L)
      assert(tombstonesEmpty(path, "_graft_deleted"))
      assert(spark.read.parquet(path)
        .filter(col("vec_id") === lateId).count() === 0L)
      assert(servedJs() === js)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("substr index: a fresh build compacts to zero (multi-file but " +
      "duplicate-free buckets are clean), and appends refuse loudly " +
      "while the compaction writer-lock marker is present") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_mk")
    val path = s"$tmp/idx"
    try {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < n / 2), path,
        k = 4)
      // the initial build writes several files per bucket in one job;
      // none holds duplicate hashes, so nothing is dirty
      def files(): Map[String, (Long, Long)] =
        new java.io.File(path).listFiles().toSeq
          .filter(_.getName.startsWith("bkt="))
          .flatMap(_.listFiles().toSeq)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
      val before = files()
      assert(before.nonEmpty)
      assert(Dedup.compactSubstrIndex(spark, path) === 0L)
      assert(files() === before,
        "compaction rewrote a duplicate-free build")
      // writer lock: appends refuse while the marker exists
      val marker = new java.io.File(path, Maintenance.MaintainingMarker)
      assert(marker.createNewFile())
      val ex = intercept[IllegalStateException] {
        Dedup.appendSubstrIndex(spark,
          docs.filter(col("doc_id") >= n / 2 && col("doc_id") < n / 2 + 5),
          path)
      }
      assert(ex.getMessage.contains(Maintenance.MaintainingMarker))
      assert(marker.delete())
      Dedup.appendSubstrIndex(spark,
        docs.filter(col("doc_id") >= n / 2 && col("doc_id") < n / 2 + 5),
        path)
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("simhash hot-bucket sub-split: exact pairs on a skewed corpus, " +
      "with candidate volume bounded far below the naive band join") {
    import spark.implicits._
    // skewed synthetic signatures: EVERY doc shares band-0's bits
    // (one hot bucket of corpus size — the template-boilerplate
    // pathology), high bits ~uniform; plus planted near-dup clusters
    // so the exactness check is non-vacuous
    val n = 600
    val rnd = new scala.util.Random(7)
    val base = (rnd.nextLong() & ((1L << 52) - 1)) << 8
    val sigs = (0 until n).map { i =>
      val sig =
        if (i % 50 == 0) base ^ (1L << (8 + rnd.nextInt(52)))
        else (rnd.nextLong() & ((1L << 52) - 1)) << 8
      (i.toLong, sig)
    }.toDF("doc_id", "simhash")
    def pairs(cap: Int): Set[(Long, Long, Long)] =
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 6,
          hotBucketCap = cap)
        .as[(Long, Long, Long)].collect().toSet
    val plain = pairs(0)
    assert(plain.nonEmpty, "planted clusters produced no true pairs")
    assert(pairs(8) === plain,
      "sub-split changed the pair set — the second pigeonhole must " +
        "be exact")
    // candidate volume Σ|bucket|²: the naive band join vs the
    // sub-split routing at cap 8 (cold buckets keep their key, hot
    // buckets re-key on (band, band_bits, sub, sub_bits))
    val nb = 7
    val banded = Dedup.simhashBands(sigs, nb)
    def vol(rows: org.apache.spark.sql.DataFrame,
        key: Seq[String]): Long =
      rows.groupBy(key.map(col): _*).count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
    val naive = vol(banded, Seq("band", "band_bits"))
    val sized = banded.withColumn("bsz", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("band_bits"))))
    val coldVol = vol(sized.filter(col("bsz") <= 8),
      Seq("band", "band_bits"))
    val hotVol = vol(
      Dedup.subSplitRows(sized.filter(col("bsz") > 8), nb, nSub = 7),
      Seq("band", "band_bits", "sub", "sub_bits"))
    assert(naive >= n.toLong * n,
      s"skew fixture lost its hot bucket (naive=$naive)")
    assert((coldVol + hotVol) * 10 < naive,
      s"sub-split volume ${coldVol + hotVol} not ≪ naive $naive")
    // the LOSSY occupancy cap is STRUCTURALLY linear: every surviving
    // bucket holds ≤ cap rows, so Σ|bucket|² ≤ cap · bands · N no
    // matter how skewed the signatures — the bound itself, measured
    val cap = 8
    val cappedVol = vol(sized.filter(col("bsz") <= cap),
      Seq("band", "band_bits"))
    assert(cappedVol <= cap.toLong * nb * n,
      s"capped volume $cappedVol exceeds its cap·bands·N bound")
    // recall contract: the planted cluster (13 near-identical sigs)
    // fits under a covering cap, so its true pairs all survive; the
    // dropped pairs are exactly those with NO surviving agreeing band
    val capped = Dedup.simhashPairsCapped(sigs, maxHamming = 6,
        bandOccupancyCap = 50)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.subsetOf(plain))
    val planted = plain.filter { case (i, j, _) =>
      i % 50 == 0 && j % 50 == 0 }
    assert(planted.nonEmpty && planted.subsetOf(capped),
      "cap dropped planted-cluster pairs its buckets could cover")
  }

  test("simhashPairsAuto routes by measured candidate volume: a cool " +
      "corpus gets the exact pigeonhole, a hot one gets the occupancy " +
      "cap, and each branch equals its dedicated operator exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // cool: ~uniform signatures + a small planted cluster — candidate
    // volume well under any sane budget
    val cool = (0 until 400).map { i =>
      val sig =
        if (i % 100 == 0) 12345L ^ (1L << rnd.nextInt(60))
        else rnd.nextLong() & ((1L << 60) - 1)
      (i.toLong, sig)
    }.toDF("doc_id", "simhash")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val coolAuto = rows(Dedup.simhashPairsAuto(cool, maxHamming = 6,
      bandOccupancyCap = 25, budgetPairsPerDoc = 128L))
    assert(coolAuto === rows(Dedup.simhashPairsFromSigs(cool,
      maxHamming = 6)), "cool corpus must route to the exact tier")
    assert(coolAuto.nonEmpty)
    // hot: every doc shares band 0's bits (the boilerplate pathology)
    // — candidate volume ≥ N²/bands blows any per-doc budget
    val base = (rnd.nextLong() & ((1L << 52) - 1)) << 8
    val hot = (0 until 400).map { i =>
      val sig =
        if (i % 100 == 0) base ^ (1L << (8 + rnd.nextInt(52)))
        else base | ((rnd.nextLong() & ((1L << 52) - 1)) << 8)
      (i.toLong, sig)
    }.toDF("doc_id", "simhash")
    val hotAuto = rows(Dedup.simhashPairsAuto(hot, maxHamming = 6,
      bandOccupancyCap = 25, budgetPairsPerDoc = 128L))
    assert(hotAuto === rows(Dedup.simhashPairsCapped(hot,
      maxHamming = 6, bandOccupancyCap = 25)),
      "hot corpus must route to the capped tier")
    // and the routing genuinely changed the result class: the capped
    // branch is a subset of the exact pairs (the recall contract)
    val hotExact = rows(Dedup.simhashPairsFromSigs(hot, maxHamming = 6))
    assert(hotAuto.subsetOf(hotExact) && hotAuto != hotExact,
      "hot fixture did not exercise the cap's loss")
  }

  test("binaryNearDupPairs: pigeonhole banding over packed sign bits " +
      "is exact across word boundaries (dim 128), and the occupancy " +
      "cap drops hot-bucket pairs under the stated contract") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 128
    // 40 spread vectors + a planted near-dup (3 flipped signs) for
    // every 4th — the banding must find the planted pairs across the
    // two 64-bit words
    val rows: Seq[(Long, Seq[Double])] = (0 until 40).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val base = Seq((i.toLong, v.toSeq))
      if (i % 8 == 0) {
        // exact sign duplicate (scaled copy) — the radius-0 check
        // below needs identical sign patterns to be non-vacuous
        base :+ ((200L + i, v.toSeq.map(_ * 2.0)))
      } else if (i % 4 == 0) {
        val w = v.clone()
        (0 until 3).foreach { _ =>
          val p = rnd.nextInt(dim); w(p) = -w(p) }
        base :+ ((100L + i, w.toSeq))
      } else base
    }
    val df = rows.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_nd")
    try {
      val path = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(df, path, dim = dim)
      def sig(v: Seq[Double]): BigInt =
        v.zipWithIndex.foldLeft(BigInt(0)) { case (acc, (x, j)) =>
          if (x > 0) acc.setBit(j) else acc }
      val sigs = rows.map { case (id, v) => id -> sig(v) }.toMap
      val R = 24
      val expected = sigs.keys.toSeq.sorted.combinations(2).flatMap {
        case Seq(a, b) =>
          val h = (sigs(a) ^ sigs(b)).bitCount
          if (h <= R) Some((a, b, h.toLong)) else None
      }.toSet
      val got = Similarity.binaryNearDupPairs(spark, path,
          maxHamming = R)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got === expected,
        "banded pairs must equal the brute sign-Hamming pairs")
      assert(got.nonEmpty, "planted near-dups produced no pairs")
      // cap = 1: every shared bucket is hot, so NO pair survives —
      // the degenerate extreme of the drop-hot-bucket contract
      // (capped ⊆ exact, loss only from capped buckets)
      val capped = Similarity.binaryNearDupPairs(spark, path,
          maxHamming = R, bandOccupancyCap = 1L)
        .collect()
      assert(capped.isEmpty,
        "cap 1 must drop every pair (all shared buckets are hot)")
      // maxHamming = 0 → ONE band of 128 bits: the band key must
      // span two longs (a single long would alias bit j with
      // j−64 — the r12 review finding), so only byte-identical sign
      // patterns pair. The planted near-dups differ by ≤ 3 flips →
      // exactly the sign-identical subset survives.
      val r0 = Similarity.binaryNearDupPairs(spark, path,
          maxHamming = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expectedR0 = sigs.keys.toSeq.sorted.combinations(2).flatMap {
        case Seq(a, b) =>
          if (sigs(a) == sigs(b)) Some((a, b)) else None
      }.toSet
      assert(expectedR0.nonEmpty,
        "fixture has no identical sign pairs; radius-0 case vacuous")
      assert(r0 === expectedR0,
        "radius-0 multi-word band keys must pair exactly the " +
          "identical sign patterns")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("binary serving dedups exactly when duplicates are possible: " +
      "a stage-marked root with literally duplicated files serves " +
      "each pair once, and the quiescent read keeps the plain scan") {
    import graft.meta.PlanIntrospection.flatten
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_dedup")
    try {
      val path = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(embs, path, dim = 64)
      val qids = embs.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"))
      def serve() = Similarity.binaryTopKServed(spark, path, embs,
        qids, k = 5, refine = 50)
      val quiet = serve().collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      // quiescent single-root: no aggregate between scan and join
      assert(!flatten(serve().queryExecution.executedPlan)
        .exists(_.nodeName.toLowerCase.contains("aggregate")),
        "quiescent serve must keep the unhardened scan plan")
      // simulate a mid-apply window: stage dir present AND a root
      // data file literally duplicated (old∪new coexistence)
      val root = new java.io.File(path)
      val dataFile = root.listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(dataFile.toPath,
        root.toPath.resolve("graftc-dup-" + dataFile.getName))
      val stage = new java.io.File(path,
        "_graft_bin_compact_stage")
      assert(stage.mkdir())
      val inWindow = serve().collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(inWindow === quiet,
        "serving through the duplicated window must equal the " +
          "quiescent result — the dedup path")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("binaryNearDupPairsAuto routes by measured banded candidate " +
      "volume: under budget the exact pigeonhole banding runs (cap " +
      "never engages), past it the capped branch equals the dedicated " +
      "capped miner, binding caps included") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_mine")
    try {
      val path = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(embs, path, dim = 64)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue)).toSet
      // huge budget → exact branch, == uncapped pigeonhole miner
      val cool = pairs(Similarity.binaryNearDupPairsAuto(spark, path,
        maxHamming = 16, bandOccupancyCap = 3L,
        budgetCandidatesPerVec = 1000000L))
      assert(cool === pairs(Similarity.binaryNearDupPairs(spark, path,
        maxHamming = 16)),
        "under-budget corpus must route to the exact banding — even " +
          "with a cap that WOULD bind if engaged")
      // 500-vec fixture measures hot at budget 128 (ns7k's config):
      // capped branch, == the dedicated capped miner
      val hot = pairs(Similarity.binaryNearDupPairsAuto(spark, path,
        maxHamming = 16, bandOccupancyCap = 100L,
        budgetCandidatesPerVec = 128L))
      assert(hot === pairs(Similarity.binaryNearDupPairs(spark, path,
        maxHamming = 16, bandOccupancyCap = 100L)),
        "over-budget corpus must route to the capped miner")
      // a BINDING cap on the hot route drops hot-bucket pairs only
      val bound = pairs(Similarity.binaryNearDupPairsAuto(spark, path,
        maxHamming = 16, bandOccupancyCap = 3L,
        budgetCandidatesPerVec = 128L))
      assert(bound === pairs(Similarity.binaryNearDupPairs(spark, path,
        maxHamming = 16, bandOccupancyCap = 3L)))
      assert(bound.subsetOf(hot),
        "capping buckets may only drop pairs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("writeBinaryIndex refuses duplicate vec_ids: the quiescent " +
      "serve's dedup-skip premise is an enforced build invariant") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_dupid")
    try {
      val dup = Seq(
        (1L, Array(1f, -1f, 1f, 1f)),
        (1L, Array(1f, -1f, 1f, 1f)),
        (2L, Array(-1f, 1f, -1f, 1f)))
        .toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Similarity.writeBinaryIndex(dup, tmp.resolve("idx").toString,
          dim = 4)
      }
      assert(e.getMessage.contains("duplicate vec_id"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("writeIvfIndex refuses duplicate vec_ids: the id-keyed delete " +
      "mask requires unique ids — enforced at build, not assumed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_dupid")
    try {
      val base = (0L until 8L).map(i =>
        (i, Array.tabulate(8)(c => (1.0f + i + c) / 8f)))
      val dup = (base :+ base.head).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Similarity.writeIvfIndex(dup, Similarity.seedCentroids(dup, 2),
          tmp.resolve("idx").toString)
      }
      assert(e.getMessage.contains("duplicate vec_id"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("writeIvfPqIndex refuses duplicate vec_ids: the id-keyed " +
      "delete mask and the routed serve's id-prefix cap both require " +
      "unique ids — enforced at build, not assumed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_dupid")
    try {
      val base = (0L until 32L).map(i =>
        (i, Array.tabulate(8)(c => (1.0f + i + c) / 8f)))
      val dup = (base :+ base.head).toDF("vec_id", "embedding")
      val cb = Similarity.fitPqCodebook(
        base.toDF("vec_id", "embedding"), nSub = 2, codesPerSub = 4,
        iters = 1)
      val e = intercept[IllegalArgumentException] {
        Similarity.writeIvfPqIndex(dup,
          Similarity.seedCentroids(dup, 2), cb, nSub = 2,
          tmp.resolve("idx").toString)
      }
      assert(e.getMessage.contains("duplicate vec_id"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("binary index delete/compact lifecycle: tombstones mask with " +
      "zero data files touched, compaction removes the dead rows via " +
      "the uuid file swap, and a mid-apply crash replays convergently") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_life")
    try {
      val path = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(embs, path, dim = 64)
      def rootFiles(): Map[String, (Long, Long)] =
        new java.io.File(path).listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
      val before = rootFiles()
      val dead1 = embs.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"))
      Similarity.deleteFromBinaryIndex(spark, dead1, path)
      assert(rootFiles() === before,
        "soft delete touched a data file")
      // masked serving == from-scratch build without the deleted
      val alive1 = embs.filter(col("vec_id") % 7 =!= 0)
      val ref1 = tmp.resolve("ref1").toString
      Similarity.writeBinaryIndex(alive1, ref1, dim = 64)
      def serve(p: String, corpus: org.apache.spark.sql.DataFrame) =
        Similarity.binaryTopKServed(spark, p, corpus,
            corpus.select(col("vec_id")), k = 5, refine = 30)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).toSet
      assert(serve(path, alive1) === serve(ref1, alive1)
        && serve(path, alive1).nonEmpty)
      // compact: tombstones drained, rows physically gone, serving
      // unchanged, converging re-run a no-op
      assert(Similarity.compactBinaryIndex(spark, path) > 0L)
      assert(tombstonesEmpty(path, "_graft_bin_deleted"))
      assert(spark.read.parquet(path).count() === alive1.count())
      assert(serve(path, alive1) === serve(ref1, alive1))
      assert(Similarity.compactBinaryIndex(spark, path) === 0L)
      // mid-apply crash: stage committed (uuid marker), one old root
      // file already deleted, one staged file already moved — the
      // next entry must replay from the stage and converge exactly
      Similarity.deleteFromBinaryIndex(spark,
        Seq(1L).toDF("vec_id"), path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stage = new org.apache.hadoop.fs.Path(
        s"$path/${Similarity.BinCompactStageDir}")
      spark.read.parquet(path)
        .filter(col("vec_id") =!= 1L)
        .write.parquet(stage.toString)
      graft.sources.Markers.write(fs,
        new org.apache.hadoop.fs.Path(stage, "_GRAFT_STAGE_ID"),
        "cafebabe")
      val rf = rootFiles().keys.toSeq.sorted
      assert(fs.delete(new org.apache.hadoop.fs.Path(rf.head), false))
      val sf = fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      assert(fs.rename(sf, new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(path),
        s"graftc-cafebabe-${sf.getName}")))
      Similarity.compactBinaryIndex(spark, path)
      val alive2 = alive1.filter(col("vec_id") =!= 1L)
      val ref2 = tmp.resolve("ref2").toString
      Similarity.writeBinaryIndex(alive2, ref2, dim = 64)
      assert(serve(path, alive2) === serve(ref2, alive2)
        && serve(path, alive2).nonEmpty)
      assert(spark.read.parquet(path).count() === alive2.count())
      assert(tombstonesEmpty(path, "_graft_bin_deleted"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("capped simhash increment: a covering cap equals the exact " +
      "increment; a tiny cap only loses or worsens flags, never " +
      "invents or improves them") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (rnd.nextLong() & ((1L << 52) - 1)) << 8
    // plant the near-dup cluster on i % 5 == 0 so it spans BOTH the
    // even (new) and odd (old) halves — cross pairs must exist
    def sig(i: Int): Long =
      if (i % 5 == 0) base ^ (1L << (8 + rnd.nextInt(52)))
      else (rnd.nextLong() & ((1L << 52) - 1)) << 8
    val all = (0 until 400).map(i => (i.toLong, sig(i)))
    val newS = all.filter(_._1 % 2 == 0).toDF("doc_id", "simhash")
    val oldS = all.filter(_._1 % 2 == 1)
      .toDF("doc_id", "simhash")
    def inc(cap: Int): Map[Long, (Long, Long)] =
      Dedup.simhashIncrementFromSigs(newS, oldS, maxHamming = 6,
          bandOccupancyCap = cap)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val exact = inc(0)
    assert(exact.nonEmpty)
    assert(inc(100000) === exact,
      "a covering cap changed the exact increment")
    val tiny = inc(4)
    assert(tiny.keySet.subsetOf(exact.keySet),
      "the cap invented a near-dup flag")
    tiny.foreach { case (d, (_, h)) =>
      assert(h >= exact(d)._2,
        s"doc $d: capped match closer than the exact best")
    }
  }

  test("packSignBits fails loudly when dim overstates the embedding " +
      "length instead of silently zero-filling the missing bits") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val ex = intercept[Throwable] {
      Similarity.binaryTopK(embs, dim = 65, k = 2, refine = 3).collect()
      ()
    }
    assert(msgs(ex).exists(_.contains("packSignBits")),
      s"expected the packSignBits guard, got: ${msgs(ex).mkString(" | ")}")
  }

  test("resize keeps every stride-th byte on non-image payloads and " +
      "halves them (the documented fallback)") {
    import spark.implicits._
    val m = Seq((1L, "image", Array[Byte](10, 20, 30, 40, 50), "s", 5L))
      .toDF("media_id", "media_type", "payload", "source", "length_hint")
    val out = Multimodal.resize(m, stride = 2).collect()(0)
    assert(out.n_bytes_in === 5L)
    assert(out.n_bytes_out === 3L) // bytes at offsets 0, 2, 4
    assert(!out.decoded && out.width_out === 0 && out.height_out === 0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(Array[Byte](10, 30, 50))
      .map("%02x".format(_)).mkString.substring(0, 8)
    assert(out.sig_out === expected)
  }

  test("resize RESAMPLES a decodable PNG for real: true scaled " +
      "dimensions ⌈w/stride⌉ × ⌈h/stride⌉ and exactly every " +
      "stride-th pixel, byte-exact through the PNG round-trip") {
    import spark.implicits._
    // 5×3 with distinct known pixels
    val (w, h) = (5, 3)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x + 1) * 0x010203 + y * 0x402010)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val m = Seq((7L, "image", bos.toByteArray, "s", 15L))
      .toDF("media_id", "media_type", "payload", "source", "length_hint")
    val out = Multimodal.resize(m, stride = 2).collect()(0)
    assert(out.decoded, "a valid PNG must take the real-pixel path")
    assert(out.width_out === 3 && out.height_out === 2,
      "dims must follow the ceil rule: ⌈5/2⌉ × ⌈3/2⌉")
    // pin every output pixel byte-exactly: out(x, y) must be
    // in(2x, 2y) — nearest-neighbor decimation, nothing blended.
    // Build the expected 3×2 image, PNG-encode it identically, and
    // compare digests (sig_out is md5 of the emitted payload)
    val exp = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      exp.setRGB(x, y, img.getRGB(2 * x, 2 * y))
    val ebos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(exp, "png", ebos)
    assert(out.n_bytes_out === ebos.size().toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectedSig = md.digest(ebos.toByteArray)
      .map("%02x".format(_)).mkString.substring(0, 8)
    assert(out.sig_out === expectedSig,
      "resampled PNG bytes diverge from the every-2nd-pixel image")
  }

  test("frame sampling explodes one row per step offset") {
    import spark.implicits._
    val m = Seq((1L, "video", Array[Byte](1), "s", 250L))
      .toDF("media_id", "media_type", "payload", "source", "length_hint")
    val frames = Multimodal.sampleFrames(m, 100)
      .select("frame_offset").as[Long].collect().toSeq
    assert(frames === Seq(0L, 100L, 200L))
  }

  test("simhashIncrement equals the cross-split slice of the full " +
      "pair finder with the (hamming, old-id) argmin per new doc") {
    val isNew = (id: Long) => id % 3 == 0
    val full = Dedup.simhashPairs(docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (new, old, hamming) pairs from the symmetric full result
    val cross = full.flatMap { case (i, j, h) =>
      Seq((i, j, h), (j, i, h))
    }.filter { case (n, o, _) => isNew(n) && !isNew(o) }
    val expected = cross.groupBy(_._1).map { case (n, ps) =>
      val best = ps.minBy(p => (p._3, p._2))
      (n, best._2, best._3)
    }.toSet
    val got = Dedup.simhashIncrement(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty && got === expected)
  }

  test("bloom filter: every inserted hash passes mightContain (no " +
      "false negatives), Column and JVM probe math agree, FP rate sane") {
    import spark.implicits._
    import graft.functions.{BloomFilter, BloomFilterBuilder}
    val mBits = 1 << 14
    val k = 4
    val members = (1L to 2000L).map(x => x * 982451653L % (1L << 60))
    val bloom = spark.createDataset(members)
      .select(new BloomFilterBuilder(mBits, k).toColumn).head()
    // JVM-side: all members present
    members.foreach { h =>
      (0 until k).foreach { i =>
        val idx = BloomFilter.probeIdx(h, i, mBits)
        assert((bloom(idx >>> 6) >>> (idx & 63) & 1L) === 1L)
      }
    }
    // Column-side: membership of every member, via the same bitset
    val nMember = spark.createDataset(members).toDF("h")
      .filter(BloomFilter.mightContain(bloom, col("h"), k, mBits))
      .count()
    assert(nMember === members.size.toLong,
      "Column probe math must match the JVM builder bit-for-bit")
    // FP rate on disjoint non-members: kn/m = 0.49 → expected fp
    // ≈ (1-e^-0.49)^4 ≈ 2.3%; assert a loose 3x bound
    val nonMembers = (1L to 4000L).map(x => x * 715225741L % (1L << 60) + 7)
      .filterNot(members.toSet)
    val fp = spark.createDataset(nonMembers).toDF("h")
      .filter(BloomFilter.mightContain(bloom, col("h"), k, mBits))
      .count().toDouble / nonMembers.size
    assert(fp < 0.07, s"false-positive rate $fp implausibly high")
  }

  test("contaminationBloom equals contamination exactly (bloom has no " +
      "false negatives; the exact join refines false positives away)") {
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val exact = Corpus.contamination(train, eval, 4)
      .collect().map(_.toSeq).toSet
    val bloomed = Corpus.contaminationBloom(train, eval, 4)
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty, "fixture should plant contamination")
    assert(bloomed === exact)
  }

  test("bloom prefilter cuts the refine join's input, measured: " +
      "candidate grams are a small fraction of all grams") {
    import graft.functions.BloomFilter
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val (mBits, k) = (1 << 20, 4)
    val evalHashes = eval
      .select(explode(HashUtils.wordShingles(col("text"), 4)).as("s"))
      .select(HashUtils.hash60(col("s")).as("h")).distinct()
    val bloom = evalHashes.select(col("h"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .select(new graft.functions.BloomFilterBuilder(mBits, k).toColumn)
      .head()
    val t = train
      .select(col("doc_id"),
        explode(HashUtils.wordShingles(col("text"), 4)).as("s"))
      .select(HashUtils.hash60(col("s")).as("h"))
    val total = t.count()
    val candidates = t
      .filter(BloomFilter.mightContain(bloom, col("h"), k, mBits))
      .count()
    val trueHits = t.join(evalHashes, Seq("h")).count()
    // every true hit survives (no false negatives) ...
    assert(candidates >= trueHits)
    // ... and the shuffle-bound candidate set is a fraction of the
    // corpus gram stream — the measured point of the operator
    assert(candidates < total / 2,
      s"prefilter kept $candidates of $total grams — no reduction")
  }

  test("contaminationBloom stays exact even at a deliberately tiny, " +
      "collision-heavy bitset (false positives only add candidates)") {
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val exact = Corpus.contamination(train, eval, 4)
      .collect().map(_.toSeq).toSet
    val bloomed = Corpus.contaminationBloom(train, eval, 4,
      mBits = 256, k = 2)
      .collect().map(_.toSeq).toSet
    assert(bloomed === exact)
  }

  test("stratifiedSample (two-level bucket rank) equals the naive " +
      "per-stratum window rank bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    val naive = docs.withColumn("_rk",
      row_number().over(Window.partitionBy(col("lang"))
        .orderBy(HashUtils.hash60(col("doc_id").cast("string")),
          col("doc_id"))))
      .filter(col("_rk") <= 50).drop("_rk")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val twoLevel = TextAnalysis.stratifiedSample(docs, "lang", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twoLevel === naive)
    // and the corpus-side rank window partitions on (stratum, _bkt),
    // not the bare low-cardinality stratum (the remaining lang-only
    // window in the plan runs over the ≤ strata·4096-row histogram)
    val plan = TextAnalysis.stratifiedSample(docs, "lang", 50)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("_bkt"),
      "two-level bucket rank missing from the plan")
  }

  test("dupNgramFraction: a planted boilerplate doc shows full overlap, " +
      "a unique doc none; fractions are [0,1]") {
    import spark.implicits._
    val tpl = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (1L, tpl), (2L, tpl), (3L, tpl), // identical boilerplate
      (4L, "unique words here totally fresh content"))
      .toDF("doc_id", "text")
    val out = Dedup.dupNgramFraction(d, n = 3, dfThreshold = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === 1.0 && out(2L) === 1.0 && out(3L) === 1.0)
    assert(out(4L) === 0.0)
  }

  test("budgetSelect (bucketed prefix) equals the naive global-window " +
      "prefix bit-for-bit, on real scores and on all-equal scores") {
    import org.apache.spark.sql.expressions.Window
    def naive(scored: org.apache.spark.sql.DataFrame, budget: Long) = {
      val w = Window
        .orderBy(col("lm_score").desc,
          HashUtils.hash60(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      scored.withColumn("cum_cost", sum(col("n_tokens")).over(w))
        .filter(col("cum_cost") <= budget)
        .select("doc_id", "cum_cost")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val scored = Corpus.unigramLogProb(docs)
    val expected = naive(scored, 8000L)
    val got = Corpus.budgetSelect(scored, "lm_score", "n_tokens",
      "doc_id", 8000L)
      .select("doc_id", "cum_cost")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && got === expected)
    // degenerate equal scores → single bucket, still exact
    val flat = scored.withColumn("lm_score", lit(1.0))
    assert(Corpus.budgetSelect(flat, "lm_score", "n_tokens",
      "doc_id", 3000L)
      .select("doc_id", "cum_cost")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === naive(flat, 3000L))
  }

  test("ntileByScore (bucketed) equals the naive global ntile window " +
      "bit-for-bit, on real scores, all-equal scores, and N < tiles") {
    import org.apache.spark.sql.expressions.Window
    def naive(scored: org.apache.spark.sql.DataFrame, n: Int) = {
      val w = Window.orderBy(col("lm_score").desc,
        HashUtils.hash60(col("doc_id").cast("string")), col("doc_id"))
      scored.withColumn("tile", ntile(n).over(w))
        .select("doc_id", "tile")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    }
    def bucketed(scored: org.apache.spark.sql.DataFrame, n: Int) =
      Corpus.ntileByScore(scored, "lm_score", "doc_id", n)
        .select("doc_id", "tile")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val scored = Corpus.unigramLogProb(docs)
    assert(bucketed(scored, 10) === naive(scored, 10))
    // uneven remainder split (500 % 7 != 0) exercises both tile sizes
    assert(bucketed(scored, 7) === naive(scored, 7))
    val flat = scored.withColumn("lm_score", lit(1.0))
    assert(bucketed(flat, 10) === naive(flat, 10))
    val tiny = scored.limit(3)
    assert(bucketed(tiny, 10) === naive(tiny, 10))
  }

  test("budgetSelect and ntileByScore property: random scores with " +
      "heavy duplicates and negatives still match the naive windows") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    // few distinct score values → many cross-row ties, negative and
    // positive, exercising the tiebreak across bucket boundaries
    val scored = (1L to 400L).map { id =>
      (id, rnd.nextInt(7) - 3.0, 1L + rnd.nextInt(50))
    }.toDF("doc_id", "lm_score", "n_tokens")
    val ord = Window.orderBy(col("lm_score").desc,
      HashUtils.hash60(col("doc_id").cast("string")), col("doc_id"))
    val naivePrefix = scored
      .withColumn("cum_cost", sum(col("n_tokens"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_cost") <= 3000)
      .select("doc_id", "cum_cost")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPrefix = Corpus.budgetSelect(scored, "lm_score", "n_tokens",
      "doc_id", 3000L)
      .select("doc_id", "cum_cost")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPrefix === naivePrefix && gotPrefix.nonEmpty)
    val naiveTiles = scored.withColumn("tile", ntile(9).over(ord))
      .select("doc_id", "tile")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val gotTiles = Corpus.ntileByScore(scored, "lm_score", "doc_id", 9)
      .select("doc_id", "tile")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(gotTiles === naiveTiles)
  }

  test("unigramLogProb: uniform-frequency corpus scores exactly " +
      "-ln(vocabSize) for every doc; rarer-token docs score lower") {
    import spark.implicits._
    // 4 docs, 4 distinct terms, each term appears exactly 4 times
    val uniform = Seq(
      (1L, "a b c d"), (2L, "b c d a"), (3L, "c d a b"), (4L, "d a b c"))
      .toDF("doc_id", "text")
    val scores = Corpus.unigramLogProb(uniform)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expect = math.log(1.0 / 4)
    assert(scores.values.forall(v => math.abs(v - expect) < 1e-6),
      s"$scores vs $expect")
    // doc of one hapax token scores below a doc of the dominant token
    val skewed = Seq((1L, "common common common common"), (2L, "rare"))
      .toDF("doc_id", "text")
    val s2 = Corpus.unigramLogProb(skewed)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(2L) < s2(1L))
  }

  test("stratifiedSample keeps NULL strata (null-safe join), matching " +
      "the naive window's NULL-is-its-own-partition semantics") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val d = (1L to 40L).map { id =>
      (id, if (id % 4 == 0) null else s"lang${id % 3}")
    }.toDF("doc_id", "lang")
    val naive = d.withColumn("_rk",
      row_number().over(Window.partitionBy(col("lang"))
        .orderBy(HashUtils.hash60(col("doc_id").cast("string")),
          col("doc_id"))))
      .filter(col("_rk") <= 5).drop("_rk")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val got = TextAnalysis.stratifiedSample(d, "lang", 5)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === naive)
    assert(got.count(_._2.isEmpty) === 5, "null stratum must keep 5 rows")
  }

  test("budgetSelect boundary: a zero-cost row whose bucket offset " +
      "lands exactly on the budget survives (oracle parity)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // wide score spread → distinct buckets; the zero-cost row scores
    // lowest so its bucket offset equals the budget exactly
    val d = Seq(
      (1L, 3000.0, 500L), (2L, 2000.0, 300L), (3L, 1000.0, 200L),
      (4L, 0.0, 0L), (5L, -1000.0, 1L))
      .toDF("doc_id", "lm_score", "n_tokens")
    val w = Window.orderBy(col("lm_score").desc,
      HashUtils.hash60(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val naive = d.withColumn("cum_cost", sum(col("n_tokens")).over(w))
      .filter(col("cum_cost") <= 1000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Corpus.budgetSelect(d, "lm_score", "n_tokens", "doc_id",
      1000L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(naive.contains(4L), "fixture must exercise the boundary")
    assert(got === naive)
  }

  test("cappedHashRank/budgetSelect/ntileByScore reject caller columns " +
      "that collide with reserved working names") {
    import spark.implicits._
    val clash = Seq((1L, 1.0, "x")).toDF("doc_id", "lm_score", "rk")
    intercept[IllegalArgumentException] {
      TextAnalysis.stratifiedSample(
        clash.withColumnRenamed("rk", "_bkt"), "lm_score", 5)
    }
    intercept[IllegalArgumentException] {
      Corpus.budgetSelect(
        clash.withColumnRenamed("rk", "cum_cost"), "lm_score",
        "lm_score", "doc_id", 10L)
    }
    intercept[IllegalArgumentException] {
      Corpus.ntileByScore(
        clash.withColumnRenamed("rk", "tile"), "lm_score", "doc_id", 3)
    }
  }

  test("appendIvfIndex: untouched cells keep their exact files, and " +
      "the appended index serves identically to a from-scratch union " +
      "build") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def dataFiles(root: String): Map[String, Long] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          p.toString.contains("cell="))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val batch = embs.filter(col("vec_id") % 4 === 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val inc = Files.createTempDirectory("ivf_inc").toString + "/idx"
    val full = Files.createTempDirectory("ivf_full").toString + "/idx"
    Similarity.writeIvfIndex(initial, cents, inc)
    val before = dataFiles(inc)
    Similarity.appendIvfIndex(spark, batch, inc)
    val after = dataFiles(inc)
    // every pre-existing file survives byte-untouched (same mtime);
    // the append only ADDED files
    assert(before.forall { case (f, t) => after.get(f).contains(t) },
      "append must never rewrite existing cell files")
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty, "append must add files")
    // and only under the cells the batch actually maps to
    val batchCells = Similarity.assignCells(batch, cents)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    val touched = newFiles.map(f =>
      "cell=(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong)
    assert(touched.subsetOf(batchCells),
      s"append wrote cells $touched beyond the batch's $batchCells")
    // serving equivalence: same centroids → same assignment → the
    // appended index IS the union index
    Similarity.writeIvfIndex(embs, cents, full)
    def serve(path: String) =
      Similarity.queryIvfIndex(spark, path, embs, cents, k = 5,
        probes = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(serve(inc) === serve(full))
  }

  test("dupParagraphFraction: a shared passage flags in both docs; " +
      "a within-doc repeat does not; windows split correctly") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      // doc 1: shared passage + 20 unique words → frac 0.5
      (1L, shared + " " + (1 to 20).map(i => s"u$i").mkString(" ")),
      // doc 2: unique 20 + shared passage → frac 0.5
      (2L, (1 to 20).map(i => s"v$i").mkString(" ") + " " + shared),
      // doc 3: its own passage repeated twice — within-doc, NOT dup
      (3L, ((1 to 20).map(i => s"x$i") ++ (1 to 20).map(i => s"x$i"))
        .mkString(" ")),
      // doc 4: 30 words → 2 windows (second short), none shared
      (4L, (1 to 30).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.dupParagraphFraction(d, paraWords = 20)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((2L, 1L)) && out(2L) === ((2L, 1L)))
    assert(out(3L) === ((2L, 0L)), "within-doc repeat is not boilerplate")
    assert(out(4L) === ((2L, 0L)), "30 words must split into 2 windows")
  }

  test("simhashIncrementFromSigs over persisted signatures equals the " +
      "recomputing convenience form") {
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val fromDocs = Dedup.simhashIncrement(newDocs, oldDocs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fromSigs = Dedup.simhashIncrementFromSigs(
      Dedup.simhash(newDocs), Dedup.simhash(oldDocs), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromSigs.nonEmpty && fromSigs === fromDocs)
  }

  test("centroidsByKey: exact element-wise means in coordinate order, " +
      "singleton passthrough, ragged input fails loudly") {
    import spark.implicits._
    val vecs = Seq(
      ("a", Seq(1.0f, 2.0f, 30.0f)),
      ("a", Seq(3.0f, 6.0f, 10.0f)),
      ("b", Seq(5.0f, 5.0f, 5.0f))).toDF("key", "embedding")
    val got = Similarity.centroidsByKey(vecs, "key")
      .orderBy("key")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Double](2).toSeq)).toSeq
    // exact in doubles: the inputs are small integers
    assert(got === Seq(("a", 2L, Seq(2.0, 4.0, 20.0)),
      ("b", 1L, Seq(5.0, 5.0, 5.0))))
    // a key whose rows disagree on dimension must throw, not silently
    // average a truncated tail
    val ragged = Seq(("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f)))
      .toDF("key", "embedding")
    val e = intercept[Exception] {
      Similarity.centroidsByKey(ragged, "key").collect()
    }
    assert(e.getMessage != null)
    // an EMPTY embedding would posexplode to no rows and silently
    // vanish from the pool — it must fail loudly instead
    val withEmpty = Seq(("a", Seq(1.0f)), ("a", Seq.empty[Float]))
      .toDF("key", "embedding")
    intercept[Exception] {
      Similarity.centroidsByKey(withEmpty, "key").collect()
    }
  }

  test("pcaTopComponent recovers a planted dominant direction with a " +
      "positive-pivot sign, unit norm, and small residual") {
    import spark.implicits._
    val dim = 8
    // planted unit direction u; vectors = t·u + small noise, all
    // deterministic from a seeded generator (replay-safe)
    val rnd = new java.util.Random(7)
    val u0 = Array.fill(dim)(rnd.nextGaussian())
    val un = math.sqrt(u0.map(x => x * x).sum)
    val u = u0.map(_ / un)
    val vecs = (1 to 300).map { i =>
      val t = rnd.nextGaussian() * 5.0
      val noise = Array.fill(dim)(rnd.nextGaussian() * 0.05)
      (i.toLong, u.indices.map(j => (t * u(j) + noise(j)).toFloat))
    }.toDF("vec_id", "embedding")
    val r = Similarity.pcaTopComponent(vecs, dim, iters = 15).head()
    val p = (0 until dim).map(j => r.getDouble(3 + j)).toArray
    val pn = math.sqrt(p.map(x => x * x).sum)
    assert(math.abs(pn - 1.0) < 1e-4) // unit up to the 6dp rounding
    val cosU = math.abs(p.zip(u).map { case (a, b) => a * b }.sum)
    assert(cosU > 0.999, s"component misaligned: |cos|=$cosU")
    // the pivot (largest-|coordinate|) is positive by the sign rule
    val pivot = (0 until dim).maxBy(j => (math.abs(p(j)), -j))
    assert(p(pivot) > 0)
    assert(r.getAs[Double]("rel_residual") < 0.01)
    // eigenvalue ≈ Var(t·(u·v)) ≈ Var(t) = 25 — loose band, the noise
    // and sampling shift it a little
    val lam = r.getAs[Double]("eigenvalue")
    assert(lam > 15 && lam < 40, s"eigenvalue off: $lam")
    assert(r.getAs[Long]("n_vecs") === 300L)
    // wrong declared dim fails loudly, not as NaN output
    intercept[Exception] {
      Similarity.pcaTopComponent(vecs, dim + 1, iters = 1).collect()
    }
  }

  test("pcaTopComponent on an empty embedding set fails with the " +
      "empty-set message, not a coordinate-count mismatch") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaTopComponent(empty, 4, iters = 1).collect()
    }
    assert(e.getMessage.contains("cannot fit PCA on an empty embedding set"),
      e.getMessage)
  }

  test("outliersByLabel flags the planted off-cluster vector, z-scores " +
      "a zero-variance label to 0, and excludes degenerate vectors") {
    import spark.implicits._
    // label 0: nine vectors clustered near (1, 0) plus ONE pointing
    // the opposite way. With stddev_pop the largest attainable |z| in
    // a sample of n is sqrt(n-1), so n = 10 leaves the planted
    // outlier near z ~ -3 — safely below the -2 flag line — while the
    // cluster members sit near +1/3. label 1: two copies of one
    // vector (zero variance) — z must be exactly 0, never NaN. A
    // zero vector must be excluded entirely.
    val cluster = (1 to 9).map { i =>
      (i.toLong, Seq(1.0f, 0.01f * i), 0)
    }
    val vecs = (cluster ++ Seq(
      (10L, Seq(-1.0f, 0.0f), 0), // planted outlier
      (11L, Seq(0.0f, 1.0f), 1),
      (12L, Seq(0.0f, 1.0f), 1),
      (13L, Seq(0.0f, 0.0f), 1)   // zero norm: excluded
    )).toDF("vec_id", "embedding", "label")
    val got = Similarity.outliersByLabel(vecs).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got.map(_._1) === (1L to 12L))
    val flagged = got.filter(_._4).map(_._1)
    assert(flagged === Seq(10L), s"flagged $flagged, want only 10")
    assert(got.find(_._1 == 10L).get._3 < -2.5)
    got.filter(x => x._1 <= 9L).foreach(x => assert(x._3 > -1.0))
    // zero-variance label: z exactly 0, no NaN, no flags
    got.filter(_._2 == 1).foreach { x =>
      assert(x._3 === 0.0 && !x._4)
    }
  }

  test("keepRepresentatives keeps exactly the best-scored member per " +
      "cluster, breaks score ties on the lower doc_id, and passes " +
      "singletons through") {
    import spark.implicits._
    // cluster 1 = {1,2,3}: scores 5,9,9 — 2 and 3 tie at 9, doc 2
    // must win; cluster 7 = {7}: singleton keeps itself
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L))
      .toDF("doc_id", "cluster_id")
    val scored = Seq((1L, 5), (2L, 9), (3L, 9), (7L, 1))
      .toDF("doc_id", "score")
    val got = Dedup.keepRepresentatives(members, scored)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got === Seq(
      (1L, 1L, 5, 3L, false),
      (2L, 1L, 9, 3L, true),
      (3L, 1L, 9, 3L, false),
      (7L, 7L, 1, 1L, true)))
    // a member the score table misses must fail loudly, not vanish
    // from the keep/drop manifest
    val ex = intercept[Exception] {
      Dedup.keepRepresentatives(members, scored.filter($"doc_id" =!= 3L))
        .collect()
    }
    assert(ex.getMessage.contains("no score for doc"))
    // the dual corruption — a DUPLICATE score row — would fan the
    // member out through the join (inflated n_members, duplicated
    // manifest rows): equally loud
    val dup = intercept[Exception] {
      Dedup.keepRepresentatives(members,
        scored.unionAll(Seq((2L, 4)).toDF("doc_id", "score"))).collect()
    }
    assert(dup.getMessage.contains("duplicate score rows for doc"))
  }

  test("bruteTopKForQueries equals bruteTopK restricted to the query " +
      "set — the structural semi-join prune loses nothing") {
    val q = embs.filter(col("vec_id") % 100 === 0).select("vec_id")
    val sub = Similarity.bruteTopKForQueries(embs, q, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val full = Similarity.bruteTopK(embs, k = 3)
      .filter(col("i") % 100 === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(sub === full && sub.nonEmpty)
  }

  test("splitByCluster never straddles a near-dup pair across the " +
      "train/val/test boundary, and singleton clusters equal the " +
      "per-doc split") {
    val members = Dedup.clusters(docs,
      Dedup.minhashPairs(docs, 3, 16, 4, 0.5))
    val split = TextAnalysis.splitByCluster(members)
    // every near-dup pair gets ONE split — the leakage the operator
    // exists to prevent (a per-doc split would straddle some of them)
    val pairs = Dedup.minhashPairs(docs, 3, 16, 4, 0.5)
    val straddling = pairs
      .join(split.select(col("doc_id").as("i"), col("split").as("si")),
        Seq("i"))
      .join(split.select(col("doc_id").as("j"), col("split").as("sj")),
        Seq("j"))
      .filter(col("si") =!= col("sj")).count()
    assert(straddling === 0L)
    assert(pairs.count() > 0, "testdata should contain planted near-dups")
    // a singleton cluster's id IS its doc_id (min-label convention),
    // so its assignment equals the plain per-doc splitAssign
    val singletons = split
      .join(pairs.select(col("i").as("doc_id")), Seq("doc_id"), "left_anti")
      .join(pairs.select(col("j").as("doc_id")), Seq("doc_id"), "left_anti")
    val mismatched = singletons.filter(col("split") =!=
      TextAnalysis.splitAssign(col("doc_id"))).count()
    assert(mismatched === 0L && singletons.count() > 0)
  }

  test("binaryTopK: packed xor+popcount Hamming equals the naive " +
      "sign-diff count on every corpus pair; recall floor holds; " +
      "partial final word masks correctly") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the naive restatement the oracle uses: hamming = Σ [sign(a_i) !=
    // sign(b_i)] — computed here straight off the double arrays
    val e = col("embedding").cast("array<double>")
    val sg = emb.select(col("vec_id"),
      transform(e, x => when(x > 0, 1L).otherwise(0L)).as("s"))
    val naive = sg.as("a").crossJoin(sg.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        aggregate(zip_with(col("a.s"), col("b.s"),
          (x, y) => when(x =!= y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("ham_naive"))
    // rank order from the naive form (same tiebreak)
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i")).orderBy(col("ham_naive"), col("j"))
    val sym = naive.union(naive.select(col("j").as("i"),
      col("i").as("j"), col("ham_naive")))
    val candN = sym.withColumn("hrk", row_number().over(wN))
    // binaryTopK's FINAL rank re-orders by exact cosine, so compare
    // at the candidate level: every pair the packed rank admits at
    // depth 10 must be admitted by the naive rank at depth 10
    val packedTop = Similarity.binaryTopK(emb, dim = 64, k = 10,
      refine = 10).select(col("i"), col("j"))
    val naiveTop = candN.filter(col("hrk") <= 10)
      .select(col("i"), col("j"))
    assert(packedTop.exceptAll(naiveTop).isEmpty,
      "packed Hamming admitted a pair the naive sign-diff rank did not")
    // recall floor at the registry entry's parameters
    val withR = Similarity.withRecall(
      Similarity.binaryTopK(emb, dim = 64, k = 5, refine = 100),
      Similarity.bruteTopK(emb, k = 5), sampleMod = 5)
    val avgR = withR.filter(col("recall").isNotNull)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
    assert(avgR >= 0.6, s"binary ANN recall collapsed: $avgR")
    // partial final word: dim = 10 vectors pack into one long with 54
    // dead bits — identical vectors must be Hamming-0 neighbors, a
    // flipped sign must cost exactly 1
    val tiny = Seq(
      (1L, Array(1f, -1f, 1f, 1f, -1f, 1f, -1f, 1f, 1f, -1f)),
      (2L, Array(1f, -1f, 1f, 1f, -1f, 1f, -1f, 1f, 1f, -1f)),
      (3L, Array(-1f, -1f, 1f, 1f, -1f, 1f, -1f, 1f, 1f, -1f)))
      .toDF("vec_id", "embedding")
    val t = Similarity.binaryTopK(tiny, dim = 10, k = 2, refine = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // 1's nearest by Hamming-then-cosine is its exact copy 2
    assert(t((1L, 1)) === 2L && t((2L, 1)) === 1L)
  }

  test("hardNegatives mines the planted triplet geometry: best " +
      "positive, hardest in-band negatives in order, bands exclusive") {
    import spark.implicits._
    // unit vectors (c, sqrt(1-c^2), 0, 0) have cosine exactly c
    // against the anchor (1, 0, 0, 0)
    def v(c: Double) =
      Array(c.toFloat, math.sqrt(1 - c * c).toFloat, 0f, 0f)
    val emb = Seq(
      1L -> Array(1f, 0f, 0f, 0f), // anchor
      2L -> v(0.9),   // positive (best)
      3L -> v(0.4),   // positive band too, but rank 2 — NOT emitted
      4L -> v(0.30),  // hard negative rk 1
      5L -> v(0.25),  // hard negative rk 2
      6L -> v(0.22),  // hard negative rk 3
      7L -> v(0.21),  // in band but beyond nNegs — cut
      8L -> v(0.10),  // easy negative — below negLo, excluded
      9L -> Array(0f, 0f, 1f, 0f)) // orthogonal anchor: no positive
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(emb, queryMod = 1,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3)
    val a1 = out.filter(col("i") === 1L).orderBy(col("rk")).collect()
    assert(a1.length === 3, "anchor 1 should carry exactly 3 triplets")
    assert(a1.forall(r => r.getLong(2) === 2L && r.getDouble(3) === 0.9),
      "the single best positive pairs with every negative row")
    assert(a1.map(_.getLong(4)).toSeq === Seq(4L, 5L, 6L),
      "hardest negatives in descending-cosine order, band-cut at 3")
    // vec 9 is an anchor with no positive — no triplets at all
    assert(out.filter(col("i") === 9L).count() === 0)
    // no emitted negative may reach the positive band
    assert(out.filter(col("neg_cos") >= 0.35).count() === 0)
  }

  test("hardNegativesAuto routes by measured anchor-pair volume: " +
      "under budget it equals the brute miner bit-for-bit; past it " +
      "the LSH cut mines only band-colliding in-band pairs (subset " +
      "relation + recall measured), and the occupancy cap threads " +
      "through") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSet
    val brute = rows(Similarity.hardNegatives(embs, queryMod = 5,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3))
    // 100 anchors · 499 candidates ≈ 50k < 1M → brute branch
    val auto = rows(Similarity.hardNegativesAuto(embs, queryMod = 5,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3, nBands = 8,
      bitsPerBand = 4, dim = 64, budgetPairsTotal = 1000000L,
      bandOccupancyCap = 200L))
    assert(auto === brute,
      "under-budget corpus must route to the unchanged brute miner")
    // tiny budget → LSH branch; equals the dedicated operator
    val lsh = rows(Similarity.hardNegativesAuto(embs, queryMod = 5,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3, nBands = 8,
      bitsPerBand = 4, dim = 64, budgetPairsTotal = 10L,
      bandOccupancyCap = 0L))
    assert(lsh === rows(Similarity.hardNegativesLsh(embs, queryMod = 5,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3, nBands = 8,
      bitsPerBand = 4, dim = 64)),
      "over-budget corpus must route to the LSH cut")
    assert(lsh.nonEmpty, "LSH branch found no triplets; test vacuous")
    // relation to brute, stated contract: every LSH pos/neg pair is a
    // true in-band pair of its anchor (exact cosine, correct band) —
    // the cut narrows candidates, never invents or mislabels them
    val vecs = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
      .filter { case (_, v) =>
        val n = v.map(x => x * x).sum
        n > 0 && java.lang.Double.isFinite(n) }
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.size) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    lsh.foreach { case (i, _, posId, posCos, negId, negCos) =>
      assert(cos6(vecs(i), vecs(posId)) === posCos && posCos >= 0.35,
        s"anchor $i: pos pair ($posId) not a true in-band positive")
      assert(cos6(vecs(i), vecs(negId)) === negCos &&
        negCos >= 0.2 && negCos < 0.35,
        s"anchor $i: neg pair ($negId) not a true in-band negative")
    }
    // recall vs the brute top-3: the cut finds a usable share
    val bruteNegs = brute.map(t => (t._1, t._5))
    val lshNegs = lsh.map(t => (t._1, t._5))
    val recall = (bruteNegs intersect lshNegs).size.toDouble /
      bruteNegs.size
    assert(recall >= 0.3, f"LSH negative recall collapsed: $recall%.2f")
    // the cap threads through and can only narrow candidates: capped
    // neg pairs are still true in-band pairs, and on a binding cap
    // the result differs from the uncapped cut
    val capped = rows(Similarity.hardNegativesAuto(embs, queryMod = 5,
      posThreshold = 0.35, negLo = 0.2, nNegs = 3, nBands = 8,
      bitsPerBand = 4, dim = 64, budgetPairsTotal = 10L,
      bandOccupancyCap = 3L))
    assert(capped === rows(Similarity.hardNegativesLsh(embs,
      queryMod = 5, posThreshold = 0.35, negLo = 0.2, nNegs = 3,
      nBands = 8, bitsPerBand = 4, dim = 64, bandOccupancyCap = 3L)),
      "routed cap must equal the dedicated capped operator")
    assert(capped !== lsh,
      "cap=3 did not bind on this fixture; contract untested")
  }

  test("substr ingest + compaction: streamed batches apply once, " +
      "replays no-op, partial overlap is loud; compaction collapses " +
      "dup rows to one file per dirty bucket and changes no answer") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val (t1, t2) = (n / 2, 3 * n / 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_ing")
    val path = s"$tmp/idx"
    try {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < t1), path, k = 4)
      val batch = docs.filter(col("doc_id") >= t1 && col("doc_id") < t2)
      graft.streaming.SubstrIngest.ingestBatch(batch, path)
      val batchDocs = batch.select(col("doc_id"))
      val rowsAfter = spark.read.parquet(s"$path/${Dedup.SubstrDocsDir}")
        .count()
      // replay of the fully-applied batch: idempotent no-op
      graft.streaming.SubstrIngest.ingestBatch(batch, path)
      assert(spark.read.parquet(s"$path/${Dedup.SubstrDocsDir}")
        .count() === rowsAfter, "replay re-applied a landed batch")
      // partial id overlap = recycled feed: loud
      intercept[IllegalArgumentException] {
        graft.streaming.SubstrIngest.ingestBatch(
          docs.filter(col("doc_id") >= t2 - 2 && col("doc_id") < t2 + 2),
          path)
      }
      // compaction: collapse dup postings in exactly the buckets that
      // HOLD duplicates; multi-file-but-duplicate-free buckets (the
      // initial build writes several files per bucket in one job) are
      // left untouched — their coalescing belongs to
      // Layout.compactPartitions (r9 advice). Under the postings form
      // a fresh append never duplicates a (h, doc_id) row, so inject
      // the real debt source: an at-least-once replay of the same
      // append at the pre-batch max (the torn-crash state the stream
      // replays from)
      Dedup.appendSubstrIndexAt(spark, batch, path, t1 - 1)
      val inc = Dedup.exactSubstrIncrement(spark,
        docs.filter(col("doc_id") >= t2), path)
      val before = inc.collect().toSeq
      val dupBkts = spark.read.parquet(path)
        .groupBy(col("bkt"), col("h"), col("doc_id")).count()
        .filter(col("count") > 1)
        .select(col("bkt").cast("long")).distinct()
        .as[Long].collect().toSet
      assert(dupBkts.nonEmpty, "replayed append should leave dup rows")
      def fileMeta(): Map[String, (Long, Long)] =
        new java.io.File(path).listFiles().toSeq
          .filter(_.getName.startsWith("bkt="))
          .flatMap(_.listFiles().toSeq)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified()))
          .toMap
      val filesBefore = fileMeta()
      val rewritten = Dedup.compactSubstrIndex(spark, path)
      assert(rewritten === dupBkts.size.toLong,
        s"rewrote $rewritten buckets, ${dupBkts.size} hold duplicates")
      val fsDir = new java.io.File(path)
      fsDir.listFiles().filter(_.getName.startsWith("bkt="))
        .filter(d =>
          dupBkts.contains(d.getName.stripPrefix("bkt=").toLong))
        .foreach { d =>
          assert(d.listFiles()
            .count(_.getName.endsWith(".parquet")) === 1,
            s"${d.getName} not compacted to one file")
        }
      // duplicate-free buckets keep their exact files
      fileMeta().foreach { case (p, meta) =>
        val b = p.replaceAll(".*bkt=([0-9]+)/.*", "$1").toLong
        if (!dupBkts.contains(b))
          assert(filesBefore.get(p).contains(meta),
            s"compaction rewrote duplicate-free bucket file $p")
      }
      val idx = spark.read.parquet(path)
      assert(idx.groupBy(col("h"), col("doc_id")).count()
        .filter(col("count") > 1).count() === 0L,
        "duplicate postings survived compaction")
      assert(!new java.io.File(path,
          Maintenance.MaintainingMarker).exists(),
        "writer-lock marker survived a completed compaction")
      val after = Dedup.exactSubstrIncrement(spark,
        docs.filter(col("doc_id") >= t2), path).collect().toSeq
      assert(after === before, "compaction changed the increment")
      // converged: a second compaction finds nothing dirty
      assert(Dedup.compactSubstrIndex(spark, path) === 0L)
      assert(batchDocs.count() > 0)
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("served binary index answers bit-identically to the in-memory " +
      "binaryTopK restricted to the query set") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bin_idx")
    try {
      val path = s"$tmp/idx"
      Similarity.writeBinaryIndex(emb, path, dim = 64)
      val queries = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"))
      val served = Similarity.binaryTopKServed(spark, path, emb,
        queries, k = 5, refine = 30)
      val inMem = Similarity.binaryTopK(emb, dim = 64, k = 5,
        refine = 30)
        .join(queries.withColumnRenamed("vec_id", "i"), Seq("i"),
          "left_semi")
      assert(served.exceptAll(inMem).isEmpty
        && inMem.exceptAll(served).isEmpty,
        "served binary index diverges from the in-memory operator")
      assert(served.count() > 0L)
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("mmrRerank defers the redundant near-copy: the diverse " +
      "second-best candidate outranks a higher-relevance near-dup " +
      "of the first pick") {
    import spark.implicits._
    // query q = x-axis; a is the top hit, a2 a near-copy of a with
    // higher relevance than the diverse b — pure relevance would rank
    // (a, a2, b); MMR's redundancy penalty must give (a, b, a2)
    val emb = Seq(
      0L -> Array(1f, 0f, 0f, 0f),                    // query
      1L -> Array(0.95f, 0.31225f, 0f, 0f),           // a: rel .95
      2L -> Array(0.90f, 0.43589f, 0f, 0f),           // a2: rel .90, sim(a2,a) ≈ .99
      3L -> Array(0.85f, 0f, 0.52678f, 0f),           // b: rel .85, sim(b,a) ≈ .81
      4L -> Array(0.30f, 0f, 0f, 0.95394f))           // d: rel .30 noise
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(emb, queryMod = 1000, m = 4, k = 3)
      .filter(col("i") === 0L).orderBy(col("rank")).collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 3L, 2L),
      "greedy trajectory should be a, then diverse b, then a2")
    // scores strictly decrease along the greedy trajectory here (the
    // redundancy penalty only grows as the selected set widens)
    val scores = out.map(_.getDouble(3)).toSeq
    assert(scores === scores.sorted.reverse)
    // pure-relevance contrast: bruteTopK ranks a2 second
    val rel = Similarity.bruteTopKForQueries(emb,
      Seq(0L).toDF("vec_id"), 3).orderBy(col("rk")).collect()
    assert(rel.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))
  }

  test("perceptualHash: the real-pixel path hashes a decoded PNG " +
      "byte-exactly against an independent implementation, and a " +
      "re-encoded identical image collides at hamming 0") {
    import spark.implicits._
    // a deterministic gradient-with-structure image: left half dark,
    // right half bright, so the aHash splits cleanly on columns
    def png(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(40, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 40) {
        val v = if (x < 20) 30 + (y + shift) % 8 else 200 + (x % 8)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // independent naive: decode again, same luma/grid/compare rules
    def naive(bytes: Array[Byte]): (Long, Long) = {
      val i = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val (w, h) = (i.getWidth, i.getHeight)
      def block(rows: Int, cols: Int): (Array[Long], Array[Long]) = {
        val s = new Array[Long](rows * cols)
        val n = new Array[Long](rows * cols)
        for (r <- 0 until rows; c <- 0 until cols) {
          val (rLo, rHi) = ((r * h / rows), ((r + 1) * h / rows))
          val (cLo, cHi) = ((c * w / cols), ((c + 1) * w / cols))
          for (y <- rLo until rHi; x <- cLo until cHi) {
            val p = i.getRGB(x, y)
            s(r * cols + c) += 299L * ((p >> 16) & 0xFF) +
              587L * ((p >> 8) & 0xFF) + 114L * (p & 0xFF)
          }
          n(r * cols + c) = (rHi - rLo).toLong * (cHi - cLo)
        }
        (s, n)
      }
      val (as, an) = block(6, 10)
      val tot = as.sum
      val nn = an.sum
      var ah = 0L
      for (c <- 0 until 60)
        if (as(c) * nn > tot * an(c)) ah |= (1L << c)
      val (ds, dn) = block(6, 11)
      var dh = 0L
      for (r <- 0 until 6; c <- 0 until 10) {
        val a0 = r * 11 + c
        if (ds(a0) * dn(a0 + 1) < ds(a0 + 1) * dn(a0))
          dh |= (1L << (r * 10 + c))
      }
      (ah, dh)
    }
    val rows = Seq(
      (1L, "image", png(0), "s", 1L),
      (2L, "image", png(0), "s", 1L), // identical pixels, same bytes
      (3L, "image", png(1), "s", 1L)) // near-dup: shifted dither
      .toDF("media_id", "media_type", "payload", "source",
        "length_hint")
    val got = Multimodal.perceptualHash(rows).collect()
      .map(r => r.media_id -> r).toMap
    val (ea, ed) = naive(png(0))
    assert(got(1L).decoded && got(1L).ahash === ea &&
      got(1L).dhash === ed, "real-pixel path drifted from the naive")
    assert(got(2L).ahash === got(1L).ahash &&
      got(2L).dhash === got(1L).dhash)
    // the near-dup image collides within a small Hamming ball while
    // not being bit-identical on at least one of the signatures
    val hamm = java.lang.Long.bitCount(got(3L).ahash ^ got(1L).ahash)
    assert(hamm <= 6, s"near-dup image at hamming $hamm")
    // byte-fallback path: non-image payload, independent 1-D naive
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val bts = txt.getBytes("UTF-8")
    def cells1d(k: Int): (Array[Long], Array[Long]) = {
      val s = new Array[Long](k)
      val n = new Array[Long](k)
      for (c <- 0 until k) {
        val lo = c * bts.length / k
        val hi = (c + 1) * bts.length / k
        for (i <- lo until hi) s(c) += (bts(i) & 0xFF).toLong
        n(c) = (hi - lo).toLong
      }
      (s, n)
    }
    val (fs, fn) = cells1d(60)
    val ftot = fs.sum
    var fa = 0L
    for (c <- 0 until 60)
      if (fs(c) * bts.length > ftot * fn(c)) fa |= (1L << c)
    val fb = Multimodal.perceptualHash(
      Seq((9L, "audio", bts, "s", 1L))
        .toDF("media_id", "media_type", "payload", "source",
          "length_hint")).head()
    assert(!fb.decoded && fb.ahash === fa,
      "byte-fallback aHash drifted from the naive")
  }

  test("mmrRerankList: an external candidate list reranks by its OWN " +
      "rel column, and a candidate the embedding store is missing " +
      "stays scorable with maxsim 0 instead of dropping out") {
    import spark.implicits._
    // candidates for one query: 10/11 have embeddings (near-copies),
    // 12 has NONE — e.g. a lexical-tower hit absent from the vector
    // store. rel: 10 > 11 > 12.
    val cands = Seq(
      (1L, 10L, 1.0), (1L, 11L, 0.9), (1L, 12L, 0.8))
      .toDF("i", "j", "rel")
    val emb = Seq(
      10L -> Array(1f, 0f), 11L -> Array(0.99f, 0.14107f))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerankList(cands, emb, k = 3, lam = 0.75)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // step 1: pure relevance -> 10 (0.75·1.0)
    // step 2: 11 scores .75·.9 − .25·sim(11,10)≈.675−.247=.428;
    //         12 has no pairs -> maxsim 0 -> .75·.8=.6 -> 12 wins
    // step 3: 11 remains
    assert(out.map(_._2) === Seq(10L, 12L, 11L),
      s"trajectory was ${out.map(_._2)}")
    assert(out(0)._3 === 0.75)
    assert(out(1)._3 === 0.6, "missing-embedding candidate scores " +
      "with zero redundancy penalty")
  }

  test("decontaminateSpans cuts exactly the quoted benchmark span, " +
      "leaves clean docs alone, empties a full benchmark copy") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bench = Seq((100L, "q1 q2 q3 q4 q5 q6 q7")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "intro words q2 q3 q4 q5 q6 outro end"), // quotes 5 tokens… <k
      (2L, "a b q1 q2 q3 q4 q5 q6 q7 y z"),         // quotes all 7
      (3L, "clean document with no quotes at all"),
      (4L, "q1 q2 q3 q4 q5 q6 q7"))                 // IS the benchmark
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(docs, bench, k = 6).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 shares only a 5-token run — below k, nothing cut
    assert(out(1L).getLong(3) === 0L)
    // doc 2: shingles at positions 2 and 3 merge to span [2, 8] — the
    // full 7-token quote goes, prefix/suffix stay
    assert(out(2L).getLong(2) === 1L && out(2L).getLong(3) === 7L)
    assert(out(2L).getString(5) === md5hex("a b y z"))
    // clean doc untouched, full copy emptied
    assert(out(3L).getLong(3) === 0L)
    assert(out(4L).getLong(3) === 7L
      && out(4L).getString(5) === md5hex(""))
  }

  test("substr index lifecycle: increment equals the full recompute " +
      "restricted to the batch; monotone/empty guards are loud; " +
      "replayed append rows are harmless; untouched buckets keep files") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val (t1, t2) = (n / 2, 3 * n / 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr")
    val path = s"$tmp/idx"
    try {
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") < t1), path, k = 4)
      val fs = new java.io.File(path)
      def bucketFiles(): Map[String, Long] = fs.listFiles()
        .filter(_.getName.startsWith("bkt="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified())).toMap
      val before = bucketFiles()
      Dedup.appendSubstrIndex(spark,
        docs.filter(col("doc_id") >= t1 && col("doc_id") < t2), path)
      val after = bucketFiles()
      // append never rewrites an existing file
      assert(before.forall { case (p, m) => after.get(p).contains(m) },
        "append rewrote or dropped a pre-existing bucket file")
      val batch = docs.filter(col("doc_id") >= t2)
      val inc = Dedup.exactSubstrIncrement(spark, batch, path)
      val full = Dedup.exactSubstr(docs, k = 4)
        .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        "increment diverges from the full recompute on the batch")
      // an at-least-once replay duplicates (h, doc_id) postings — the
      // read-side min aggregation must make that invisible (snapshot
      // through a sibling dir: same-path read-while-append is UB)
      val snap = s"$tmp/snap"
      spark.read.parquet(path).write.parquet(snap)
      spark.read.parquet(snap)
        .write.mode("append").partitionBy("bkt").parquet(path)
      val inc2 = Dedup.exactSubstrIncrement(spark, batch, path)
      assert(inc2.exceptAll(full).isEmpty && full.exceptAll(inc2).isEmpty,
        "duplicated index rows changed the increment")
      // guards: overlapping (non-monotone) batch, empty batch
      intercept[IllegalArgumentException] {
        Dedup.appendSubstrIndex(spark,
          docs.filter(col("doc_id") < t1), path)
      }
      intercept[IllegalArgumentException] {
        Dedup.exactSubstrIncrement(spark,
          docs.filter(col("doc_id") < 0), path)
      }
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("substr delete: tombstones mask at read and PROMOTE the next " +
      "surviving holder; edges are loud/no-op; compaction reclaims " +
      "the debt answer-invisibly and ids stay unrecyclable") {
    import spark.implicits._
    val run = "a1 a2 a3 a4 a5 a6"
    val docs = Seq(
      (1L, run),                  // canonical holder of the run
      (2L, s"z1 $run z2"),        // second (surviving) holder
      (3L, "u1 u2 u3 u4 u5"))     // unique filler
      .toDF("doc_id", "text")
    val batch = Seq((10L, s"q1 $run q2")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_del")
    val path = s"$tmp/idx"
    def bucketFiles(): Map[String, (Long, Long)] =
      new java.io.File(path).listFiles().toSeq
        .filter(_.getName.startsWith("bkt="))
        .flatMap(_.listFiles().toSeq
          .filter(_.getName.endsWith(".parquet")))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    def nSpans(): Long =
      Dedup.exactSubstrIncrement(spark, batch, path)
        .head().getAs[Long]("n_spans")
    try {
      Dedup.writeSubstrIndex(docs, path, k = 4, nBuckets = 8)
      assert(nSpans() > 0L, "fixture: the batch run must be flagged")
      // takedown of the CANONICAL holder: the batch must still flag
      // against the surviving second holder — the promotion a
      // min-only index row could never answer
      val filesBefore = bucketFiles()
      Dedup.deleteFromSubstrIndex(spark, Seq(1L).toDF("doc_id"), path)
      assert(bucketFiles() === filesBefore,
        "delete touched index data files")
      assert(nSpans() > 0L,
        "deleting the canonical holder lost the surviving one")
      // the masked read equals the survivor-corpus recompute
      val inc = Dedup.exactSubstrIncrement(spark, batch, path)
      val want = Dedup.exactSubstr(
        docs.filter(col("doc_id") =!= 1L).unionByName(batch), k = 4)
        .filter(col("doc_id") === 10L)
      assert(inc.exceptAll(want).isEmpty && want.exceptAll(inc).isEmpty,
        "masked increment diverges from the survivor recompute")
      // unknown id: idempotent no-op; null id: loud
      Dedup.deleteFromSubstrIndex(spark, Seq(999L).toDF("doc_id"), path)
      assert(nSpans() > 0L)
      val ex = intercept[Exception] {
        Dedup.deleteFromSubstrIndex(spark,
          spark.sql("SELECT CAST(NULL AS BIGINT) AS doc_id"), path)
      }
      assert(ex.getMessage != null)
      // take down the LAST holder too: the content is now unseen
      Dedup.deleteFromSubstrIndex(spark, Seq(2L).toDF("doc_id"), path)
      assert(nSpans() === 0L, "content with no surviving holder flagged")
      // compaction reclaims: deleted postings physically gone,
      // snapshotted tombstone files gone, answers unchanged
      assert(Dedup.compactSubstrIndex(spark, path) > 0L)
      val idx = spark.read.parquet(path)
      assert(idx.filter(col("doc_id").isin(1L, 2L)).count() === 0L,
        "deleted holders' postings survived compaction")
      assert(idx.filter(col("doc_id") === 3L).count() > 0L,
        "compaction dropped a surviving holder's postings")
      // settled tombstones (ids 1, 2 — both indexed) are reclaimed;
      // the unknown id 999 is a PRE-INGEST takedown and must KEEP
      // masking until a doc 999 actually arrives (r14 advice: the old
      // delete-everything reclaim lost such takedowns)
      assert(spark.read
        .parquet(s"$path/${Dedup.SubstrDeletedDir}")
        .select(col("doc_id")).as[Long].collect().toSet === Set(999L),
        "compaction must reclaim exactly the settled tombstones")
      assert(nSpans() === 0L, "compaction changed the increment")
      // a second compaction converges to a no-op
      assert(Dedup.compactSubstrIndex(spark, path) === 0L)
      // deleted ids stay in the docs sibling, so the feed can never
      // recycle them — a re-append of id 2 is refused loudly
      intercept[IllegalArgumentException] {
        Dedup.appendSubstrIndex(spark,
          Seq((2L, "r1 r2 r3 r4")).toDF("doc_id", "text"), path)
      }
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("substr compaction keeps PRE-INGEST tombstones: delete → " +
      "compact → ingest of the same id cannot lose the takedown, and " +
      "the tombstone settles only once the doc actually lands") {
    import spark.implicits._
    // the r14-advice high finding: a takedown can arrive BEFORE its
    // doc (the delete stream is an independent query — SubstrIngestSpec
    // establishes that contract); the old compaction deleted every
    // snapshotted tombstone file, so a compact between the takedown
    // and the ingest silently revived the doc and recycled its id
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6"),
      (2L, "b1 b2 b3 b4 b5"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_pre")
    val path = s"$tmp/idx"
    def tombstoneIds(): Set[Long] = {
      val d = new java.io.File(s"$path/${Dedup.SubstrDeletedDir}")
      val fl = Option(d.listFiles((_, n) => n.endsWith(".parquet")))
        .getOrElse(Array.empty)
      if (fl.isEmpty) Set.empty
      else spark.read.parquet(d.getPath).select(col("doc_id"))
        .as[Long].collect().toSet
    }
    try {
      Dedup.writeSubstrIndex(docs, path, k = 4, nBuckets = 8)
      // pre-ingest takedown: id 10 is above everything indexed
      Dedup.deleteFromSubstrIndex(spark, Seq(10L).toDF("doc_id"), path)
      // ALSO a settled takedown in the same snapshot, proving the
      // compaction separates the two: id 1 is indexed, so its
      // tombstone is reclaimable once its postings drop
      Dedup.deleteFromSubstrIndex(spark, Seq(1L).toDF("doc_id"), path)
      Dedup.compactSubstrIndex(spark, path)
      assert(spark.read.parquet(path)
        .filter(col("doc_id") === 1L).count() === 0L,
        "settled takedown's postings survived compaction")
      assert(tombstoneIds() === Set(10L),
        "compaction must reclaim the settled tombstone and KEEP the " +
          "pre-ingest one")
      // the ingest of the taken-down doc: its report masks it, so the
      // doc is neither reported nor allowed to flag same-batch spans
      val batch = Seq(
        (10L, "a1 a2 a3 a4 a5 a6"),   // the taken-down doc
        (11L, "c1 c2 c3 c4 c5"))      // an innocent sibling
        .toDF("doc_id", "text")
      val inc = Dedup.exactSubstrIncrement(spark, batch, path)
      assert(inc.filter(col("doc_id") === 10L).count() === 0L,
        "a pre-ingest takedown was lost across compaction: the dead " +
          "doc came back in the increment report")
      assert(inc.filter(col("doc_id") === 11L).count() === 1L)
      // the doc's postings land (the append is mask-blind by design)
      // but serve masked; once it IS in the docs sibling the
      // tombstone is settled — the next compaction reclaims both
      Dedup.appendSubstrIndex(spark, batch, path)
      Dedup.compactSubstrIndex(spark, path)
      assert(tombstoneIds() === Set.empty,
        "a settled tombstone (doc now ingested) was not reclaimed")
      assert(spark.read.parquet(path)
        .filter(col("doc_id") === 10L).count() === 0L,
        "the settled takedown's postings survived the reclaim")
      // and the id stays unrecyclable forever (docs sibling keeps it)
      intercept[IllegalArgumentException] {
        Dedup.appendSubstrIndex(spark,
          Seq((10L, "r1 r2 r3 r4")).toDF("doc_id", "text"), path)
      }
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("substr compaction replays a committed delete stage: a bucket " +
      "lost to a mid-overwrite crash is restored, and the tombstones " +
      "clear only after the survivors land") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_rp")
    val path = s"$tmp/idx"
    try {
      Dedup.writeSubstrIndex(docs, path, k = 4, nBuckets = 8)
      val deadDf = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"))
      Dedup.deleteFromSubstrIndex(spark, deadDf, path)
      // stage exactly what a delete compaction stages (survivors +
      // the dirty-bucket marker, conservatively ALL buckets) — the
      // state right after the stage COMMITS and before the apply
      val idx = spark.read.parquet(path)
      idx.join(deadDf, Seq("doc_id"), "left_anti")
        .select(col("h"), col("doc_id"), col("bkt"))
        .write.parquet(s"$path/${Similarity.CompactStageDir}")
      val allBkts = idx.select(col("bkt").cast("long"))
        .distinct().as[Long].collect().sorted
      allBkts.toSeq.toDF("part").coalesce(1)
        .write.parquet(s"$path/${Similarity.CompactStageDir}/_parts")
      // the crash: the overwrite's commit died after deleting one
      // bucket dir — its survivors exist only in the stage, and the
      // tombstone files are still in place (they clear LAST)
      val victim = allBkts.head
      assert(new scala.reflect.io.Directory(
        new java.io.File(path, s"bkt=$victim")).deleteRecursively())
      assert(new java.io.File(s"$path/${Dedup.SubstrDeletedDir}")
        .listFiles((_, nm) => nm.endsWith(".parquet")).nonEmpty,
        "precondition: tombstones present across the crash")
      // re-entry replays the committed stage (restoring the lost
      // bucket), then the normal pass drops the now-settled debt
      Dedup.compactSubstrIndex(spark, path)
      assert(!new java.io.File(path,
        Similarity.CompactStageDir).exists())
      val files = new java.io.File(s"$path/${Dedup.SubstrDeletedDir}")
        .listFiles((_, nm) => nm.endsWith(".parquet"))
      assert(files == null || files.isEmpty,
        "tombstones survived a completed replay+pass")
      // the rebuilt-from-stage index answers exactly as a fresh build
      // over the survivor corpus
      val batch = Seq((n + 10L, docs.orderBy(col("doc_id"))
        .head().getAs[String]("text"))).toDF("doc_id", "text")
      val rebuilt = s"$tmp/rebuilt"
      Dedup.writeSubstrIndex(docs.filter(col("doc_id") % 5 =!= 0),
        rebuilt, k = 4, nBuckets = 8)
      val a = Dedup.exactSubstrIncrement(spark, batch, path)
      val b = Dedup.exactSubstrIncrement(spark, batch, rebuilt)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "replayed index diverges from a survivor rebuild")
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  test("exactSubstr cuts spans duplicated from EARLIER docs only, " +
      "merges overlaps, keeps the canonical copy, digests the cut text") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d1 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"  // canonical holder
    val d2 = "x1 x2 a3 a4 a5 a6 a7 y1"         // run a3..a7 from d1
    val d3 = d1                                 // full duplicate
    val d4 = "u1 u2 u3 u4 u5"                   // unique
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstr(docs, k = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    // canonical doc keeps everything — duplication elsewhere must not
    // touch the FIRST holder
    assert(out(1L).getLong(2) === 0L && out(1L).getLong(3) === 0L)
    assert(out(1L).getString(5) === md5hex(d1))
    // d2: shingle spans [2,5] and [3,6] merge into ONE island [2,6];
    // 5 tokens cut, prefix/suffix survive
    assert(out(2L).getLong(1) === 8L, "total tokens")
    assert(out(2L).getLong(2) === 1L, "merged span count")
    assert(out(2L).getLong(3) === 5L, "dup tokens")
    assert(out(2L).getDouble(4) === 0.625)
    assert(out(2L).getString(5) === md5hex("x1 x2 y1"))
    // d3: every position duplicated from d1 — whole doc cut, empty
    // digest (the all-removed edge the coalesce handles)
    assert(out(3L).getLong(3) === 10L)
    assert(out(3L).getString(5) === md5hex(""))
    // d4: untouched
    assert(out(4L).getLong(2) === 0L
      && out(4L).getString(5) === md5hex(d4))
  }
}
