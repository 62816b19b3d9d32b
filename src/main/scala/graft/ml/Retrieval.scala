package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the document corpus — the inverted-index
  * complement of the embedding-space ANN tier in [[Similarity]]
  * (reference anchor: the filtered item search `get_filtered_items`
  * at PodioApiWrapper.py:104-167 is the CRM's "find records matching
  * terms" surface; this is the ranked generalization a training-data /
  * RAG pipeline needs).
  *
  * Scale posture at 100 TB:
  *  - The term → posting-list join is keyed on the term string; the
  *    QUERY term set (small by construction — queries are human- or
  *    template-sized) broadcasts, so the corpus-side posting scan
  *    prunes map-side before anything shuffles. Candidate volume is
  *    Σ df(query term), never corpus-sized.
  *  - Document statistics (tf, dl) are one tokenize + two aggregates —
  *    map-side combinable, shuffled on (doc, term) / doc hashes. In a
  *    standing index deployment these materialize once
  *    ([[graft.sources.Layout]] bucketing by term) and queries reuse
  *    them; here they derive in-plan so the gate covers the whole
  *    pipeline.
  *  - Top-k per query is a window over query_id partitions — thousands
  *    of queries parallelize across partitions, and no global sort of
  *    the candidate set ever happens.
  */
object Retrieval {

  /** Okapi BM25 top-k: for each query (a bag of terms), the `k`
    * highest-scoring documents with
    * score(q,d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard
    * Robertson/Sparck-Jones form, non-negative for all df.
    *
    * `docs` needs (doc_id, text) — whitespace-tokenized, matching the
    * corpus-wide convention of [[Corpus]]/[[TextAnalysis]]; `queries`
    * needs (query_id, terms: array&lt;string&gt;). Query terms are
    * deduplicated (bag-of-unique-terms; standard practice — repeating
    * a query term does not double its contribution). Scores round to
    * 6 dp BEFORE ranking on both engine sides, with doc_id as the
    * total tiebreak, so the cut is cross-engine deterministic. A query
    * whose terms hit no document is absent from the output.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, maxDf: Long = 0L): DataFrame = {
    val (tf, dl, stats) = corpusStats(docs)
    scoreFromStats(tf, dl, stats, queries, k, k1, b, maxDf)
  }

  /** The BM25 ROUTER — [[graft.ml.Dedup.simhashPairsAuto]]'s
    * measured-volume discipline applied to lexical retrieval, making
    * the guaranteed-linear stopword cap the DEFAULT under corpus skew
    * without the caller knowing the corpus: measure the scoring
    * join's candidate volume Σ_t df(t)·nq(t) (the exact row count
    * the posting × query join will produce — df and nq are counts,
    * so the measurement is deterministic integers) with ONE bounded
    * aggregate over the query-term-pruned df table, and engage
    * `maxDf` only once that volume exceeds `budgetDfPerQuery` per
    * query. A cool corpus scores exactly ([[bm25TopK]] with no cap);
    * a corpus where a hot template token drags a constant fraction
    * of the postings into every query (the measured ns46 skew floor,
    * exp 1.83) routes to the capped tier (exp 0.40) with the stated
    * stopword-removal recall contract. The condition is a pure
    * function of the data, so the WHOLE router hash-gates: the
    * oracle restates the volume test and selects the df predicate by
    * the same scalar (ns46i). The measuring pass prunes map-side
    * exactly like scoring (broadcast semi-join against the query
    * terms), and the pruned posting set is checkpointed once so
    * measurement and the routed branch share a single corpus scan.
    */
  def bm25TopKAuto(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, maxDf: Long,
      budgetDfPerQuery: Long = 4096L): DataFrame = {
    val (tf, dl, stats) = corpusStats(docs)
    scoreRouted(tf, dl, stats, queries, k, k1, b, maxDf,
      budgetDfPerQuery)
  }

  /** [[bm25TopKAuto]]'s shared core: prune the posting set to the
    * query terms (the same broadcast semi-join scoring performs),
    * checkpoint it (read twice: the volume measurement and the
    * routed scoring pass — the ns22 localCheckpoint discipline; the
    * pruned set is Σ df(query term) rows, never corpus-sized for
    * query workloads), measure, route. `maxDf` must be positive —
    * a router with no cap to engage is just [[bm25TopK]].
    */
  private def scoreRouted(tf: DataFrame, dl: DataFrame,
      stats: DataFrame, queries: DataFrame, k: Int, k1: Double,
      b: Double, maxDf: Long, budgetDfPerQuery: Long): DataFrame = {
    require(maxDf > 0L,
      "the routed form needs a positive maxDf to engage")
    require(budgetDfPerQuery > 0L, "budgetDfPerQuery must be positive")
    val qterms = queries.select(col("query_id"),
      explode(col("terms")).as("term")).distinct()
    val posting = Materialize.cut(tf.join(
      broadcast(qterms.select(col("term")).distinct()),
      Seq("term"), "left_semi"))
    // nq(t) = how many queries contain t; ≤ |distinct query terms|
    // rows, broadcast into the df aggregate
    val nq = qterms.groupBy(col("term")).agg(count(lit(1)).as("nq"))
    // bounded driver actions: ONE volume row + the query count. The
    // volume is decimal-widened like the ns5d candidate count — at
    // 100 TB a hot term's df · nq can overflow a long product sum.
    val vol = BigDecimal(posting
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(broadcast(nq), Seq("term"))
      .agg(coalesce(sum(col("df").cast("decimal(38,0)") * col("nq")),
        lit(0).cast("decimal(38,0)")).as("vol"))
      .head().getDecimal(0))
    val nQueries = qterms.select(col("query_id")).distinct().count()
    val hot = vol > BigDecimal(budgetDfPerQuery) * nQueries
    scoreFromStats(posting, dl, stats, queries, k, k1, b,
      if (hot) maxDf else 0L)
  }

  /** The standing-index statistics of a corpus: per-(doc, term)
    * counts, per-doc lengths, and the (n_docs, avgdl) scalar row —
    * everything BM25 needs beyond the query itself.
    */
  private[graft] def corpusStats(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // dl = Σ tf per doc — deriving it FROM tf instead of a second
    // groupBy over the token stream halves the tokenize+explode work
    // (the two aggregates prune/group differently, so exchange reuse
    // could not dedup them) and re-aggregates |doc×term| rows instead
    // of |tokens|; same integer counts bit-for-bit
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    (tf, dl, stats)
  }

  /** `maxDf` (0 = exact) is the stopword-cap scale tool: query terms
    * whose document frequency exceeds the cap contribute NOTHING —
    * the classic stopword-removal contract, stated rather than
    * implicit. Rationale at 100 TB: per-query scoring cost is
    * Σ df(query term), and one hot term (a stopword, a template
    * token) makes every query touch a corpus-constant fraction of
    * the postings — the skew tier measured exactly that (ns46 exp
    * 1.83 on the Zipf corpus). Under the cap the scoring join is
    * ≤ |query terms| · maxDf rows per query — linear in query count
    * regardless of corpus skew — while the ranking barely moves for
    * genuinely discriminative queries (a term at df > maxDf carries
    * near-zero idf anyway). A query whose every term is capped out
    * is absent from the output, like one whose terms hit nothing.
    * Deterministic (df is a count), so ns46g gates it hash-exact.
    */
  private def scoreFromStats(tf: DataFrame, dl: DataFrame,
      stats: DataFrame, queries: DataFrame, k: Int,
      k1: Double, b: Double, maxDf: Long = 0L): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val qterms = queries.select(col("query_id"),
      explode(col("terms")).as("term")).distinct()
    // the map-side prune: only postings for query terms survive the
    // scan (broadcast semi-join), so df and the scoring join are both
    // bounded by Σ df(query term)
    val posting = tf.join(
      broadcast(qterms.select(col("term")).distinct()),
      Seq("term"), "left_semi")
    // df counts over the WHOLE corpus for those terms (posting keeps
    // every doc per surviving term); ≤ |distinct query terms| rows
    val docFreq0 = posting.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // the cap must prune BOTH scoring-join inputs, not just ride the
    // df table: joining posting with the per-query term list first
    // and filtering df after would pay the hot terms' full
    // |posting|x|queries-with-term| fan-out before the filter (the
    // skew probe measured exactly that) — semi-join each side
    // against the kept-term list so no capped term enters any join
    val (postingQ, qtermsQ, docFreq) =
      if (maxDf > 0L) {
        val kept = docFreq0.filter(col("df") <= maxDf)
        (posting.join(broadcast(kept.select(col("term"))),
            Seq("term"), "left_semi"),
          qterms.join(broadcast(kept.select(col("term"))),
            Seq("term"), "left_semi"),
          kept)
      } else (posting, qterms, docFreq0)
    // IEEE addition is not associative, so a plain sum() of 3+ per-term
    // contributions would associate in partition-dependent order and
    // could ulp-shift across the 6 dp rounding boundary between runs —
    // the rrfFuse discipline applies here too: fold the SORTED
    // contribution list (≤ |query terms| elements per (query, doc)
    // group) so the accumulation order is canonical whatever the
    // partitioning. The oracle mirrors the same sorted fold with
    // list_reduce/list_sort, so the gate compares identical sequences.
    val scored = postingQ
      .join(broadcast(qtermsQ), Seq("term"))
      .join(broadcast(docFreq), Seq("term"))
      .join(dl.hint("shuffle_hash"), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(collect_list(
        log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))).as("_cs"))
      .select(col("query_id"), col("doc_id"),
        round(aggregate(sort_array(col("_cs")), lit(0.0),
          (acc, x) => acc + x), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Reciprocal-rank fusion of ranked retrieval lists — the standard
    * hybrid-search combiner (Cormack/Clarke/Buettcher's RRF):
    * rrf(q, d) = Σ_lists 1/(c + rank_list(q, d)), summing only over
    * the lists that retrieved d for q. Rank-based fusion needs no
    * score calibration between heterogeneous retrievers (BM25 log
    * scores vs cosine in [−1, 1]), which is exactly why it is the
    * default way to merge a lexical and a semantic candidate list.
    *
    * Each input needs (query_id, doc_id, rank); output is the fused
    * top-k per query as (query_id, rank, doc_id, rrf), with rrf
    * rounded to 6 dp BEFORE ranking and doc_id as the total tiebreak
    * (the [[bm25TopK]] determinism discipline — the cut itself is
    * cross-engine gateable). The fusion is one union + one groupBy on
    * (query, doc) — candidate-list-sized, never corpus-sized — and
    * the per-query top-k window parallelizes across query partitions.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60)
      : DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(k >= 1, "k must be at least 1")
    require(c >= 0, "rrf constant must be non-negative")
    // CONTRACT: each input list holds at most one row per
    // (query_id, doc_id) — a ranked list by definition. A duplicate
    // would silently add an extra 1/(c+rank) contribution and skew the
    // fused score, so the precondition fails loudly. The check rides
    // the fusion's OWN aggregation (tag each contribution with its
    // list index, compare list-tag cardinality to distinct list-tag
    // cardinality per (query, doc) group) — a separate count window
    // would shuffle the stacked candidates a second time on different
    // keys for nothing.
    val stacked = rankings.zipWithIndex
      .map { case (df, idx) =>
        df.select(col("query_id"), col("doc_id"), col("rank"))
          .withColumn("_list", lit(idx))
      }
      .reduce(_.unionAll(_))
    // IEEE addition is commutative but NOT associative, so a plain
    // sum() of 3+ contributions would associate in partition-dependent
    // order and could ulp-shift across a rounding boundary between
    // runs or engines. Folding the SORTED contribution list fixes one
    // canonical accumulation order whatever the partitioning; the
    // per-(query, doc) list is ≤ |rankings| elements, and for the
    // two-list case the fold equals any engine's plain sum exactly
    // (two-operand addition is order-free), so SQL oracles restate it
    // as sum(). Round before ranking, doc_id as the total tiebreak.
    val fused = stacked.groupBy(col("query_id"), col("doc_id"))
      .agg(collect_list(struct(col("_list"),
        (lit(1.0) / (lit(c) + col("rank"))).as("_c"))).as("_lc"))
      .select(col("query_id"), col("doc_id"),
        when(size(col("_lc")) ===
            size(array_distinct(col("_lc._list"))),
          round(aggregate(sort_array(col("_lc._c")), lit(0.0),
            (acc, x) => acc + x), 6))
          .otherwise(raise_error(concat(
            lit("rrfFuse: duplicate (query_id, doc_id) within one " +
              "ranking for query "),
            col("query_id").cast("string"), lit(", doc "),
            col("doc_id").cast("string")))).as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
  }

  private[graft] val DocsDir = "_graft_bm25_docs"
  private[graft] val StatsDir = "_graft_bm25_stats"
  private[graft] val DeletedDir = "_graft_bm25_deleted"

  /** Soft-delete documents from a persisted BM25 index: the ids land
    * in an underscore-prefixed tombstone table beside the postings and
    * every serving read masks postings AND doc-lengths against them —
    * so df, n_docs, and avgdl all re-derive from the surviving corpus
    * and the index answers EXACTLY like a from-scratch build without
    * the deleted docs (the gate proves it). No `bkt=` partition is
    * rewritten: a takedown against a 100 TB standing index costs one
    * id-sized append, and every posting file stays byte-identical
    * (spec-measured). The [[graft.ml.Similarity.deleteFromIvfIndex]]
    * semantics apply verbatim: idempotent (unknown/already-deleted
    * ids are a no-op), loud on NULL ids, tombstones are compaction
    * debt until the next [[writeBm25Index]] rebuild, and re-appending
    * a deleted doc_id cannot resurrect it (the append pre-check still
    * sees its physical doc-length row and rejects the overlap).
    * Reference anchor: the soft-delete path at
    * PodioApiGateway.py:161-178.
    */
  def deleteBm25Docs(spark: org.apache.spark.sql.SparkSession,
      docIds: DataFrame, path: String): Unit =
    ServedStore.Bm25.delete(spark, docIds, path)

  /** Reclaim the compaction debt [[deleteBm25Docs]] accrues:
    * physically rewrite ONLY the `bkt=` partitions holding postings
    * of tombstoned docs (detected by a column-pruned (doc_id, bkt)
    * scan), rewrite the doc-length sibling without the dead rows
    * (its narrow (doc_id, dl) table is unavoidable — n_docs/avgdl
    * derive from it — and goes through the live→bak, tmp→live,
    * drop-bak swap the StreamingAgg state commit uses, with mid-swap
    * crash recovery at the next entry AND a read-side bak fallback in
    * [[docsDirFor]] so serving never breaks inside the swap window),
    * drop any bucket directory left empty, then LAST drop exactly the
    * tombstone files this run applied (the entry-pinned file-list
    * snapshot — see [[Similarity.compactIvfIndex]]; concurrently
    * appended tombstones survive and keep masking). The posting
    * rewrite follows
    * [[Similarity.compactIvfIndex]]'s staged crash contract verbatim:
    * survivors stage durably, the dirty-bucket marker commits the
    * stage, the apply is replayed from the stage at the next entry if
    * a crash lands inside the overwrite commit — so a re-run always
    * converges and the mask covers every intermediate state. Cost
    * follows the dirty buckets; clean buckets keep their exact files
    * (spec-measured byte-identical). After compaction a formerly-
    * deleted doc_id may be re-appended — its physical rows are gone,
    * so the append pre-check sees a genuinely new doc. Single-writer
    * maintenance op. Returns the number of bucket partitions
    * rewritten or removed.
    */
  /** Restore a doc-length table whose swap crashed between the two
    * renames (live missing, bak present): bak IS the committed
    * pre-swap state, and any tombstones that justified the swap are
    * still on disk, so restoring it restores correct (masked) serving
    * (the read path also falls back to bak, so serving never broke
    * meanwhile). Shared by the compaction and fold entry points.
    */
  private def recoverDocsSwap(fs: org.apache.hadoop.fs.FileSystem,
      docsLive: org.apache.hadoop.fs.Path,
      docsBak: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(docsLive) && fs.exists(docsBak)) {
      val ok = fs.rename(docsBak, docsLive)
      require(ok || fs.exists(docsLive),
        s"could not restore $docsBak after a mid-swap crash")
    }

  /** Commit an already-written `_tmp` doc-length table over the live
    * one: live→bak, tmp→live, drop bak — each rename atomic on the
    * FS, with the stale-bak pre-delete (rename onto an existing dir
    * NESTS the source inside the target, the StreamingAgg swap edge).
    * Shared by the compaction and fold entry points; crash recovery
    * is [[recoverDocsSwap]] + the [[docsDirFor]] read-side fallback.
    */
  private def swapInDocsTmp(fs: org.apache.hadoop.fs.FileSystem,
      docsLive: org.apache.hadoop.fs.Path,
      docsBak: org.apache.hadoop.fs.Path,
      docsTmp: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(docsLive)) {
      fs.delete(docsBak, true)
      require(fs.rename(docsLive, docsBak),
        s"could not stage $docsLive aside")
    }
    require(fs.rename(docsTmp, docsLive),
      s"could not commit $docsTmp to $docsLive")
    fs.delete(docsBak, true)
    ()
  }

  /** Fold the streamed-appends sibling INTO the base BM25 index — the
    * lexical twin of [[Similarity.foldStreamIntoIvfIndex]], with the
    * same crash contract: pending committed `ingest_batch=` partitions
    * are HIDDEN first (the
    * [[graft.streaming.BatchCommit.FoldedMarker]] visibility flip, so
    * postings are never served from base and stream at once), their
    * postings move into base `bkt=` directories through
    * the durable-stage protocol with a DISTINCT union (refolds
    * converge), their doc lengths merge into the doc-length table
    * through the live→bak/tmp→live swap (distinct again), and the
    * batch data is dropped LAST, leaving data-less stubs that keep
    * the BatchCommit replay ledger alive. A crash between the posting
    * apply and the docs swap leaves the folded docs' postings
    * unmatched by doc-length rows until the next fold entry — the
    * same bounded degradation window compaction documents for its own
    * mid-commit crash. Doc ids must be unique across base and stream,
    * the [[appendBm25Index]] contract the ingest stream already
    * carries. After a full fold the sibling holds no data, so
    * [[compactBm25Index]] proceeds — a standing index never needs a
    * rebuild to become compactable. Returns the partitions folded.
    */
  def foldStreamIntoBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val docsLive = new org.apache.hadoop.fs.Path(s"$path/$DocsDir")
    val docsBak = new org.apache.hadoop.fs.Path(s"$path/${DocsDir}_bak")
    val docsTmp = new org.apache.hadoop.fs.Path(s"$path/${DocsDir}_tmp")
    val fs = docsLive
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDocsSwap(fs, docsLive, docsBak)
    graft.sources.StagedRewrite.replayBuckets(spark, path, "bkt")
    val root = new org.apache.hadoop.fs.Path(
      path + Similarity.StreamSiblingSuffix)
    // HIDE first — the shared claim step (see claimPendingBatches)
    val pending = Similarity.claimPendingBatches(fs, root)
    if (pending.isEmpty) return 0L
    // a BM25 batch holds TWO sub-tables, and a crashed cleanup may
    // have dropped one before the other — read only the sub-tables
    // still present (their rows are already in the base via the
    // crashed run's apply/swap, both distinct-absorbed), so a torn
    // batch resumes instead of wedging every later fold on a
    // path-not-found (r10 review finding)
    def sub(name: String): Seq[String] = pending
      .map(p => new org.apache.hadoop.fs.Path(p, name))
      .filter(fs.exists(_)).map(_.toString)
    val postingDirs = sub("postings")
    val dlDirs = sub("docs")
    if (postingDirs.nonEmpty)
      Similarity.foldIntoBuckets(spark, path, "bkt", postingDirs
        .map(spark.read.parquet(_)).reduce(_.unionByName(_)))
    if (dlDirs.nonEmpty) {
      // doc lengths: live ∪ folded, distinct (refold-convergent), via
      // the atomic swap
      val dl = dlDirs.map(spark.read.parquet(_))
        .reduce(_.unionByName(_))
      fs.delete(docsTmp, true)
      spark.read.parquet(docsLive.toString).unionByName(dl).distinct()
        .write.parquet(docsTmp.toString)
      swapInDocsTmp(fs, docsLive, docsBak, docsTmp)
    }
    // drop the data LAST, keep the stub (the replay ledger)
    graft.streaming.BatchCommit.dropToStub(fs, pending)
    pending.size.toLong
  }

  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val docsLive = new org.apache.hadoop.fs.Path(s"$path/$DocsDir")
    val docsBak = new org.apache.hadoop.fs.Path(s"$path/${DocsDir}_bak")
    val docsTmp = new org.apache.hadoop.fs.Path(s"$path/${DocsDir}_tmp")
    val fs = docsLive
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDocsSwap(fs, docsLive, docsBak)
    // then finish a crashed posting apply from its committed stage
    // (restoring any bucket the crashed overwrite half-replaced)
    // WITHOUT touching the tombstones — post-crash deletions must
    // survive into the normal pass below
    graft.sources.StagedRewrite.replayBuckets(spark, path, "bkt")
    // pin the tombstone table AS A FILE LIST at entry and delete only
    // those files at the end — a tombstone appended concurrently by a
    // Bm25Ingest.startDeletes stream lands in a new file, survives,
    // and keeps masking (the compactIvfIndex snapshot discipline)
    val snapshot = ServedStore.Bm25.snapshot(fs, path)
    if (snapshot.isEmpty) 0L
    else {
        // same stream-sibling refusal as compactIvfIndex: the
        // tombstones also mask streamed postings, which this
        // compaction never rewrites. Data-less stubs (the fold's
        // replay ledger) no longer guard anything.
        Similarity.requireStreamFolded(fs, path, "compactBm25Index",
          "foldStreamIntoBm25Index")
        val dead = ServedStore.Bm25.idsIn(spark, snapshot)
        val tf = spark.read.parquet(path)
        val dirty = tf.select(col("doc_id"), col("bkt"))
          .join(dead, Seq("doc_id"))
          .select(col("bkt").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // durable survivor stage + committed dirty-bucket marker, then
        // the replayable apply — see compactIvfIndex's crash contract
        // (the stage, not the index, is the source of truth once
        // committed); partitionLits keeps the rewrite scan pruned to
        // the dirty buckets
        if (dirty.nonEmpty)
          graft.sources.StagedRewrite.rewriteBuckets(spark, path, "bkt",
            tf.filter(Similarity.partitionLits(tf, "bkt", dirty))
              .join(dead, Seq("doc_id"), "left_anti"), dirty)
        // doc-length swap: materialize the survivor table into tmp,
        // then the two renames (each atomic on the FS)
        fs.delete(docsTmp, true)
        spark.read.parquet(docsLive.toString)
          .join(dead, Seq("doc_id"), "left_anti")
          .write.parquet(docsTmp.toString)
        swapInDocsTmp(fs, docsLive, docsBak, docsTmp)
        // tombstones go LAST (see compactIvfIndex): only the
        // snapshotted files — later-appended tombstones stay
        ServedStore.Bm25.reclaim(fs, snapshot)
        dirty.length.toLong
    }
  }

  /** The doc-length root serving should read: the live table, or the
    * `_bak` sibling a compaction crash in the swap window left behind.
    * Without this READ-SIDE fallback a crash between the two swap
    * renames would make every query throw path-not-found until
    * someone happened to call [[compactBm25Index]] again (nothing on
    * the serving path ever does) — with it, serving stays correct
    * throughout: bak is the committed pre-swap state and the
    * tombstones that justified the swap are still on disk, so the
    * mask covers the difference. Read-only — repair itself still
    * belongs to the maintenance op.
    */
  private[graft] def docsDirFor(
      spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val live = new org.apache.hadoop.fs.Path(s"$path/$DocsDir")
    val bak = new org.apache.hadoop.fs.Path(s"$path/${DocsDir}_bak")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(bak)) bak.toString
    else live.toString
  }

  /** Persist the inverted index: the posting table partitioned by
    * `bkt = pmod(xxhash64(term), nBuckets)` directories, with the
    * doc-length table and the (n_docs, avgdl, n_buckets) scalar row
    * under underscore-prefixed sibling dirs (invisible to the parquet
    * scan — the [[Similarity.writeIvfIndex]] layout discipline;
    * persisting n_buckets WITH the index means a query can never hash
    * terms against a drifted bucket count). Queries then read only the
    * `bkt=` directories their terms hash into, so serving cost follows
    * the query's term set, not the corpus — the lexical counterpart of
    * the cell-partition-pruned ANN serving path.
    */
  def writeBm25Index(docs: DataFrame, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "need at least one term bucket")
    // a rebuild supersedes the previous generation's stream sibling
    // (refuses on un-folded data, clears stale fold stubs) — see
    // Similarity.clearSupersededSibling
    graft.ml.Similarity.clearSupersededSibling(
      new org.apache.hadoop.fs.Path(path).getFileSystem(
        docs.sparkSession.sparkContext.hadoopConfiguration),
      path, "writeBm25Index")
    val (tf, dl, _) = corpusStats(docs)
    tf.withColumn("bkt", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("bkt").parquet(path)
    dl.write.mode("overwrite").parquet(s"$path/$DocsDir")
    // ONLY the immutable bucket count persists as index metadata:
    // n_docs/avgdl derive from the doc table at query time, so an
    // append can never leave stale scoring scalars behind (a
    // persisted avgdl would silently mis-score every query after the
    // first append)
    docs.sparkSession.range(1).select(lit(nBuckets).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$path/$StatsDir")
  }

  /** Incrementally maintain a persisted BM25 index: tokenize a NEW
    * batch of documents, hash its postings with the index's OWN stored
    * bucket count, and APPEND them into their `bkt=` directories (plus
    * the doc-length sibling). Buckets the batch's terms miss keep
    * their exact existing files — maintenance cost follows the batch,
    * never the corpus (the [[Similarity.appendIvfIndex]] story for the
    * lexical tier). Because df and (n_docs, avgdl) derive from the
    * stored tables at query time, the appended index serves the union
    * corpus IDENTICALLY to a from-scratch rebuild — RetrievalSpec pins
    * that bit-for-bit. Batch doc_ids must be NEW: re-appending an
    * indexed doc would double its postings, so overlap fails loudly
    * (one batch-sized semi-join, the bounded pre-check).
    */
  def appendBm25Index(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, path: String): Unit = {
    ServedStore.requireAppendable(spark, path, "appendBm25Index")
    val nBuckets = spark.read.parquet(s"$path/$StatsDir")
      .head().getAs[Int]("n_buckets")
    val existing = spark.read.parquet(s"$path/$DocsDir")
    val dup = newDocs.select(col("doc_id"))
      .join(existing.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .limit(1).count()
    require(dup == 0L,
      "appendBm25Index: batch contains doc_ids already indexed — " +
        "re-appending would double their postings")
    val (tf, dl, _) = corpusStats(newDocs)
    tf.withColumn("bkt", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .write.mode("append").partitionBy("bkt").parquet(path)
    dl.write.mode("append").parquet(s"$path/$DocsDir")
  }

  /** Query a persisted BM25 index: hash the query terms with the
    * index's OWN stored bucket count, turn the (small) distinct bucket
    * set into a static partition filter, and score from the pruned
    * postings exactly as [[bm25TopK]] does in-plan — df stays corpus-
    * exact because every posting of a term lives wholly inside its
    * bucket directory. The bucket-id collect is the serving path's
    * bounded driver action (≤ distinct query terms), the ANN serving
    * precedent. Output contract is identical to [[bm25TopK]]'s —
    * RetrievalSpec pins served == in-plan row for row.
    *
    * `maxDf` (0 = exact) is the same stopword-cap contract as
    * [[bm25TopK]]'s, and it matters MORE here: at 100 TB the standing
    * index IS the serving path, and without the cap one hot term's
    * full posting list (df ∝ N) streams out of its `bkt=` directory
    * into the scoring join on every query that mentions it — the
    * skew tier measured the uncapped in-plan form at exponent 1.83.
    * Under the cap the hot term costs ONE map-combinable df count
    * over its pruned bucket (linear, no fan-out) and is then excluded
    * from both scoring-join inputs before any per-query pairing
    * happens, so served scoring work is ≤ |query terms| · maxDf rows
    * regardless of corpus skew.
    */
  def queryBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDf: Long = 0L): DataFrame = {
    val nBuckets = spark.read.parquet(s"$path/$StatsDir")
      .head().getAs[Int]("n_buckets")
    queryBm25IndexFrom(spark, nBuckets, Seq(path),
      Seq(docsDirFor(spark, path)), queries, k, k1, b, maxDf)
  }

  /** The multi-root serving core ([[Similarity.queryIvfIndexPaths]]'s
    * shape): postings from every root in `postingPaths` (each pruned
    * to the query terms' `bkt=` directories), doc lengths from every
    * root in `docPaths` — the base-∪-streamed-appends read of
    * [[graft.streaming.Bm25Ingest]]. Scoring scalars always derive
    * from the unioned doc table, never from persisted values an
    * append could have staled.
    */
  private[graft] def queryBm25IndexFrom(
      spark: org.apache.spark.sql.SparkSession, nBuckets: Int,
      postingPaths: Seq[String], docPaths: Seq[String],
      queries: DataFrame, k: Int, k1: Double, b: Double,
      maxDf: Long = 0L): DataFrame = {
    val (tf, dl, stats) = servingTables(spark, nBuckets, postingPaths,
      docPaths, queries)
    scoreFromStats(tf, dl, stats, queries, k, k1, b, maxDf)
  }

  /** [[queryBm25Index]] with the measured-volume router engaged — the
    * serving-path twin of [[bm25TopKAuto]], which is the form that
    * matters at 100 TB (queries hit the standing index, not the
    * in-plan build): the candidate volume measures over the
    * bucket-pruned, tombstone-masked postings the scoring pass will
    * read anyway, and `maxDf` engages only past `budgetDfPerQuery`
    * per query. Gated end to end on the in-plan router's oracle
    * (ns46j == ns46i's contract, served plan — the ns46b discipline).
    */
  def queryBm25IndexAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDf: Long,
      budgetDfPerQuery: Long = 4096L): DataFrame = {
    val nBuckets = spark.read.parquet(s"$path/$StatsDir")
      .head().getAs[Int]("n_buckets")
    val (tf, dl, stats) = servingTables(spark, nBuckets, Seq(path),
      Seq(docsDirFor(spark, path)), queries)
    scoreRouted(tf, dl, stats, queries, k, k1, b, maxDf,
      budgetDfPerQuery)
  }

  /** The (tf, dl, stats) triple every serving read scores from —
    * one derivation shared by the exact and routed paths so a future
    * change to the read-side invariants cannot fork them.
    */
  private def servingTables(
      spark: org.apache.spark.sql.SparkSession, nBuckets: Int,
      postingPaths: Seq[String], docPaths: Seq[String],
      queries: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (tf, dl) = maskedIndexTables(spark, nBuckets, postingPaths,
      docPaths, queries)
    (tf, dl, dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl")))
  }

  /** The bucket-pruned, tombstone-masked (postings, doc-lengths)
    * pair every serving read starts from — shared by the exact,
    * capped, and routed query paths.
    */
  private def maskedIndexTables(
      spark: org.apache.spark.sql.SparkSession, nBuckets: Int,
      postingPaths: Seq[String], docPaths: Seq[String],
      queries: DataFrame): (DataFrame, DataFrame) = {
    require(postingPaths.nonEmpty && docPaths.nonEmpty,
      "need at least one posting and one doc-length root")
    // bounded driver action of the serving path: the distinct bucket
    // ids of the query's terms (≤ distinct query terms)
    val bkts = queries
      .select(explode(col("terms")).as("term"))
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("bkt"))
      .distinct().collect().map(_.getLong(0))
    val tf0 = postingPaths.map { p =>
      spark.read.parquet(p)
        // directory-name type inference reads `bkt=5` back as int —
        // re-widen so the static filter matches the long hash
        .filter(col("bkt").cast("long").isin(bkts.map(x => x: Any): _*))
        .select(col("doc_id"), col("term"), col("tf"))
    }.reduce(_.unionByName(_))
    val dl0 = docPaths.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    // tombstone mask on BOTH tables, BEFORE any statistic derives:
    // df, n_docs, and avgdl then describe exactly the surviving
    // corpus, which is what makes a soft delete serve identically to
    // a rebuild. The anti-join's build side is the tombstone set —
    // bounded by deletions since the last rebuild, so AQE broadcasts
    // it while it stays small (large tombstones = time to compact).
    val store = ServedStore.Bm25
    store.tombstones(spark, postingPaths).fold((tf0, dl0))(dead =>
      (store.antiJoin(tf0, dead), store.antiJoin(dl0, dead)))
  }
}
